"""Per-row timing on bench.py's protocol, split into DataFrame build
(driver-side plan construction, py4j traffic) and action (collect) —
the per-row A/B tool — plus where each row's CPU goes.

Usage: python tools/profile_queries.py [sf_dir] [query ...]

Runs ``bench.warm_up`` on the first named query, then ``bench.time_query``
on each, so a row's total is the median bench.py records for it. Jobs
count every job a sample fires: a query that triggers eager jobs at build
time (localCheckpoint) shows them here although its exec time is small.

The CPU columns split the process tree's CPU seconds, read from
``/proc`` around each row's ``time_query`` and divided by its runs (the
warm-up collect and the timed samples): ``main`` is this Python process,
``jvm`` the Spark JVM less its JIT compiler threads (JIT is warm-up, not
the row's work), ``py`` every process under the JVM (the PySpark daemon
and its workers, reaped ones included). Worker CPU spent after a
``collect()`` returns can land in the next row's window.

``py4j`` is the number of py4j commands one more build of the row sends
(:func:`build_commands`), after its timed samples: the driver-side build
layer's traffic, which a regression in how a row assembles its plan
raises.
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import defaultdict

import py4j.java_gateway
import py4j.protocol

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RUNS, median_total, time_query, warm_up
from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES
from healthcare_aws_data_engineering_spark.session import get_spark

CLK_TCK = os.sysconf("SC_CLK_TCK")
MEMORY_DELETE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


def build_commands(build):
    """(py4j commands ``build()`` sends, its result). Memory deletes are
    not counted: py4j sends one from a finalizer thread for every
    Python-side Java object the garbage collector frees, so their number
    depends on what ran before."""
    client = py4j.java_gateway.GatewayClient
    send = client.send_command
    sent = 0

    def counting(self, command, *args, **kwargs):
        nonlocal sent
        if not command.startswith(MEMORY_DELETE):
            sent += 1
        return send(self, command, *args, **kwargs)

    client.send_command = counting
    try:
        out = build()
    finally:
        client.send_command = send
    return sent, out


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file — the name
    may hold spaces; ``("", [])`` if the process or thread is gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return "", []
    end = raw.rindex(")")
    return raw[raw.index("(") + 1 : end], raw[end + 2 :].split()


def _ticks(fields: list[str], reaped: bool) -> int:
    # utime, stime (fields 14-15 of stat), then the reaped children's
    # cutime, cstime (16-17)
    return sum(int(x) for x in fields[11 : 15 if reaped else 13]) if fields else 0


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"org.apache.spark.deploy.SparkSubmit" in f.read()
    except OSError:
        return False


def cpu_split() -> tuple[float, float, float]:
    """(this Python process, JVM less JIT compiler threads, Python
    workers) CPU seconds the process tree has used so far."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            _, fields = _stat(f"/proc/{name}/stat")
            if fields:
                children[int(fields[1])].append(int(name))
    me = os.getpid()
    main = _ticks(_stat(f"/proc/{me}/stat")[1], reaped=False)
    jvm = next((p for p in _descendants(me, children)[1:] if _is_jvm(p)), None)
    if jvm is None:
        return main / CLK_TCK, 0.0, 0.0
    jvm_fields = _stat(f"/proc/{jvm}/stat")[1]
    jit = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        thread, fields = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if "CompilerThre" in thread:  # "C1/C2 CompilerThread<n>"
            jit += _ticks(fields, reaped=False)
    workers = _ticks(jvm_fields, reaped=True) - _ticks(jvm_fields, reaped=False)
    workers += sum(
        _ticks(_stat(f"/proc/{p}/stat")[1], reaped=True)
        for p in _descendants(jvm, children)[1:]
    )
    return (
        main / CLK_TCK,
        (_ticks(jvm_fields, reaped=False) - jit) / CLK_TCK,
        workers / CLK_TCK,
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, QUERIES[names[0]], sf_dir)

    print(
        f"{'query':28} {'build':>7} {'exec':>7} {'total':>7} {'jobs':>5}"
        f" {'main':>6} {'jvm':>6} {'py':>6} {'py4j':>6}"
    )
    suite = 0.0
    for name in names:
        before = cpu_split()
        samples = time_query(spark, QUERIES[name], sf_dir)
        cpu = [(b - a) / (RUNS + 1) for a, b in zip(before, cpu_split())]
        sent, _ = build_commands(lambda: QUERIES[name](spark, sf_dir))
        build = statistics.median(s[0] for s in samples)
        execute = statistics.median(s[1] for s in samples)
        total = median_total(samples)
        jobs = statistics.median_low(s[2] for s in samples)
        suite += total
        print(
            f"{name:28} {build:7.3f} {execute:7.3f} {total:7.3f} {jobs:5d}"
            f" {cpu[0]:6.3f} {cpu[1]:6.3f} {cpu[2]:6.3f} {sent:6d}"
        )
    print(f"{'TOTAL':28} {'':7} {'':7} {suite:7.3f}")


if __name__ == "__main__":
    main()
