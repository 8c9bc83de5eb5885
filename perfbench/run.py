"""Repository benchmark: two closed-loop workloads, one client thread,
``local[<cores>]``.

    python3 perfbench/run.py --workload clinical_app --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``METRICS.md``):

- ``clinical_app``: the analyst and app path, five registry rows (the two
  reports, disease confidence, wellness and the ML risk scores) over
  generated sf0.01-shaped ``events`` / ``customer`` tables.
- ``ingest_batch``: the batch jobs. ``fhir_etl`` over a seeded raw zone
  of FHIR bundles into fresh curated Parquet, then both reports over what
  it wrote; and two corpus rows (graph_pagerank, vocab_topk) over
  generated ``documents`` / ``embeddings`` tables of 300 rows.

A run sets up ``SETUPS`` times (Spark session, inputs, frozen schema),
then warms up with the workload's ``warm_up_passes`` passes over its ops;
``setup_s`` is the median set-up plus the warm-up. It then runs whole passes, each a seeded
permutation of the workload's ops, until ``--seconds`` have passed and
at least ``MIN_PASSES`` are done. Every op's output, warm-up included,
is checked after its timer stops: registry rows against the DuckDB
oracle, the ingest against what the generator computed. With
``--trace 1`` each row is traced in one pass of each pair and untraced
in the other; the per-layer figures come from the traced ops, and
``trace.overhead_s`` is the traced minus the untraced median latency.
Spans are kept in memory and written to ``.bench_work/traces/`` at the
end.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The gated end-to-end metrics are
``setup_s``, ``cpu_per_op_vs_ref`` and ``peak_rss_mb``.
``cpu_per_op_vs_ref`` is ``cpu_s_per_op`` (each row's median CPU, JIT
compiler threads left out, averaged over the rows) divided by the mean
CPU seconds of a fixed reference loop run before each op. The line
before the result gives ``cpu_s_per_op`` itself, the wall-clock
``op_p50_s``, ``ops_per_s`` and ``pass_s``, ``failed_frac``,
``op_p90_s`` when a run holds at least 100 ops, the JIT CPU per op, and
on ``ingest_batch`` the ingest throughput and storage ratio.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_PASSES = 2
REFERENCE_STEPS = 150_000


def _boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _process_start() -> float:
    """This process's start on the boot clock, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> int:
    """Point the package, Spark and its Python workers at this checkout."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1536m"
    # Python workers import the package when unpickling UDFs.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [HERE, ROOT]
    return cores


def _session(get_spark, work: str):
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms1536m -XX:+AlwaysPreTouch"
            # compiler threads live as long as the JVM, so their CPU can be
            # told apart from the program's (see run_op)
            " -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark, tree) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(tree.pids()) > 1:
        time.sleep(0.1)
    for pid in tree.pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _reference_loop(_=None) -> float:
    """CPU seconds of a fixed pure-Python loop: how fast the CPU it runs
    on is right now. Other tenants slow this host's CPUs by up to 1.6x
    from one minute to the next, which moves CPU seconds per op as much
    as it moves this."""
    t0 = time.thread_time()
    d: dict[int, int] = {}
    for i in range(REFERENCE_STEPS):
        d[i % 997] = (d.get(i % 991, 0) + i) & 0xFFFF
    return time.thread_time() - t0


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _row_medians(ops, key: str) -> dict[str, float]:
    """Median of ``op[key]`` per row."""
    by_row: dict[str, list] = {}
    for op in ops:
        by_row.setdefault(op["name"], []).append(op[key])
    return {row: _median(xs) for row, xs in by_row.items()}


def _layer_metrics(workload, traced, untraced, session_starts, jvm_rss_mb, written) -> dict:
    n = max(len(traced), 1)
    keys = sorted({k for op in traced for k in op["layers"]})
    out = {k: sum(op["layers"][k] for op in traced) / n for k in keys}
    out["session.start_s"] = _median(session_starts)
    out["session.jvm_rss_mb"] = jvm_rss_mb
    out["session.jit_cpu_s"] = sum(op["jit"] for op in traced) / n
    out["sources.schema_infer_s"] = workload.schema_infer_s
    ops = max(len(traced) + len(untraced), 1)
    out["sources.files_written"] = written["files"] / ops
    out["sources.bytes_written"] = written["bytes"] / ops
    from workloads import ALL_ROWS

    for row in ALL_ROWS:
        if row != "ingest":
            out[f"query.{row}.s"] = _median([op["latency"] for op in traced if op["name"] == row])
    for step in ("fhir_etl", "cvd_report", "prediabetes_report"):
        out[f"query.{step}.s"] = _median([op["steps"].get(step, 0.0) for op in traced if op["name"] == "ingest"])
    out["trace.overhead_s"] = _median([op["latency"] for op in traced]) - _median(
        [op["latency"] for op in untraced]
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["clinical_app", "ingest_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t_process = _process_start()
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = _environment(work)

    # Fails here, before any output, when the package is not beside us.
    from healthcare_aws_data_engineering_spark.session import get_spark

    import probes
    from workloads import WORKLOADS, Tracer

    tree = probes.ProcTree()
    # One reference loop per core, side by side, so that every CPU the
    # program's threads run on is sampled, not just one. Forked before
    # Spark starts any thread; left out of the memory figures.
    ref_pool = multiprocessing.get_context("fork").Pool(cores)
    ref_pids = {p.pid for p in multiprocessing.active_children()}
    workload = WORKLOADS[args.workload](work, args.seed)
    spark, setups, session_starts = None, [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
            shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)
        t0 = t_process if i == 0 else _boot_clock()
        s0 = _boot_clock()
        spark = _session(get_spark, work)
        session_starts.append(_boot_clock() - s0)
        workload.setup(spark, f"setup{i}")
        setups.append(_boot_clock() - t0)
    tracer = Tracer(spark)
    jvm = tree.jvm_pid()

    def run_op(name: str) -> dict:
        ref = statistics.mean(ref_pool.map(_reference_loop, range(cores), chunksize=1))
        tracer.begin()
        j0 = tree.jit_cpu_s(jvm)
        c0 = tree.cpu_s()
        t0 = time.perf_counter()
        try:
            result = workload.run(spark, name, tracer)
        except Exception:
            traceback.print_exc()
            result = None
        latency = time.perf_counter() - t0
        cpu = tree.cpu_s() - c0
        jit = tree.jit_cpu_s(jvm) - j0
        # JIT compiling is the JVM warming up, not the op's work: after
        # the warm-up it was still about half the op's CPU, fell pass by
        # pass, and carried most of the run-to-run spread.
        op = {"name": name, "latency": latency, "cpu": cpu - jit, "jit": jit, "ref": ref,
              "traced": tracer.enabled}
        if result is None:
            op["failed"] = True
        else:
            if tracer.enabled:
                op["layers"] = tracer.finish(latency, cores)
                op["steps"] = tracer.step_seconds()
            op["fingerprint"], op["written"] = workload.check(spark, name, result)
        spark.catalog.clearCache()
        print(f"# op {name} {latency:.3f}s cpu={op['cpu']:.3f}s jit={jit:.3f}s ref={ref:.4f}s traced={int(tracer.enabled)}", file=sys.stderr)
        return op

    # Warm-up, part of the set-up: untraced passes in listed order. The
    # first pays class loading and codegen, 3-15x a later op's CPU. The
    # JIT keeps speeding ops up after it; each row's median over the
    # measured passes absorbs what is left.
    t0 = _boot_clock()
    warm_ops = [run_op(name) for _ in range(workload.warm_up_passes) for name in workload.rows]
    warm_up_s = _boot_clock() - t0

    rng = random.Random(args.seed)
    ops = []
    now = time.perf_counter
    t_start, passes, first_traced = now(), 0, None
    # At least two passes, so every row has two samples (and a traced run
    # traces each row once).
    while passes < MIN_PASSES or now() - t_start < args.seconds:
        order = list(workload.rows)
        rng.shuffle(order)
        if first_traced is None:
            first_traced = set(order[1::2])
        for name in order:
            # Traced mode: every row is traced in one pass of each pair and
            # untraced in the other.
            tracer.enabled = bool(args.trace) and (name in first_traced) == (passes % 2 == 0)
            ops.append(run_op(name))
        passes += 1
    measured_s = now() - t_start
    peak_rss_mb = tree.peak_rss_mb([p for p in tree.pids() if p not in ref_pids])
    jvm_rss_mb = tree.peak_rss_mb([jvm]) if jvm else 0.0

    checked = [op for op in warm_ops + ops if "fingerprint" in op]
    expected = workload.expected(sorted({op["name"] for op in checked}))
    for op in checked:
        if op["fingerprint"] != expected.get(op["name"]):
            print(f"# wrong result: {op['name']}", file=sys.stderr)
            op["failed"] = True
    ref_pool.close()
    ref_pool.join()
    _shutdown(spark, tree)

    good = [op for op in ops if not op.get("failed")]
    untraced = [op for op in good if not op["traced"]]
    traced = [op for op in good if op["traced"]]
    failed = sum(1 for op in warm_ops + ops if op.get("failed"))
    lat = [op["latency"] for op in untraced]
    setup_s = _median(setups) + warm_up_s
    attempted = len(warm_ops) + len(ops)
    # Each row's median, averaged over the rows: every row weighs the
    # same, and one slow sample (or a mix that puts the median op on the
    # edge between two rows) does not move the figure.
    row_cpu = _row_medians(untraced, "cpu")
    cpu_s_per_op = sum(row_cpu.values()) / max(len(row_cpu), 1)
    # Wall-clock figures: what a user waits for, but on a shared host
    # their run-to-run spread (15-33% over ten runs) exceeds any usable
    # regression bound, so they are reported here and not gated.
    extra = {"failed_frac": failed / attempted, "op_p50_s": _median(lat),
             "ops_per_s": len(lat) / sum(lat) if lat else 0.0, "ops": len(ops), "passes": passes,
             "pass_s": sum(_row_medians(untraced, "latency").values()),
             "cpu_s_per_op": cpu_s_per_op, "ref_cpu_s": _median([op["ref"] for op in untraced]),
             "jit_s_per_op": sum(op["jit"] for op in untraced) / max(len(untraced), 1),
             "measured_s": measured_s, "setup_first_s": setups[0], "warm_up_s": warm_up_s}
    if len(lat) >= 100:
        extra["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    written = {k: sum(op["written"].get(k, 0) for op in good) for k in ("files", "bytes", "raw_bytes", "rows", "etl_s")}
    if written["etl_s"]:
        extra["ingest_resources_per_s"] = written["rows"] / written["etl_s"]
        extra["stored_bytes_per_raw_byte"] = written["bytes"] / written["raw_bytes"]
    if args.trace:
        metrics = _layer_metrics(workload, traced, untraced, session_starts, jvm_rss_mb, written)
        units = {k: ("s" if k.endswith("_s") or k.endswith(".s") else "count") for k in metrics}
        units.update({k: "B" for k in metrics if k.endswith("_bytes") or "bytes_" in k})
        units.update({"exec.core_idle_frac": "fraction", "session.jvm_rss_mb": "MB",
                      "trace.overhead_s": "s"})
        trace_dir = os.path.join(bench_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "ops": ops}, f)
    else:
        metrics = {
            "setup_s": setup_s,
            "cpu_per_op_vs_ref": cpu_s_per_op / statistics.mean(op["ref"] for op in untraced),
            "peak_rss_mb": peak_rss_mb,
        }
        units = {"setup_s": "s", "cpu_per_op_vs_ref": "x", "peak_rss_mb": "MB"}
    shutil.rmtree(work, ignore_errors=True)
    print("# " + " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in extra.items()))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
