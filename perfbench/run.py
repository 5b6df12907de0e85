"""perfbench: end-to-end and per-layer benchmark of demo_bigdata_spark.

Run from the repository root:

    python3 perfbench/run.py --workload events_ingest_serve --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload, named metrics

One run sets the session up from a cold JVM through an untimed warm-up
(``setup_s``, counted in CPU seconds), drives the workload's closed loop in
whole passes for as long as another pass fits into ``--seconds`` (at least
one), checks the outputs against independent references and prints a
report line followed by the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` additionally
runs one traced pass at local[N] and one at local[1] and reports the
per-layer metrics (see perfbench/README.md). A run works in a fresh
directory under ``.perfbench_runs/`` in the repository root and removes it
at exit; a traced run leaves its spans file there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
APP = "perfbench"

# End-to-end metrics: only the set-up is gated. Every timing of the warm loop,
# wall-clock or CPU, over single operations or whole passes, failed to repeat
# within a tenth on a shared host whose speed drifts by up to 40 % over
# minutes, so they are reported per layer (see README.md).
END_TO_END = {"setup_s": "s"}
UNGATED = {"items_per_s": "1/s", "write_p50_s": "s", "read_p50_s": "s", "pass_s": "s",
           "pass_cpu_s": "s", "write_cpu_s": "s", "read_cpu_s": "s"}
# The user-facing names of the end-to-end metrics, per workload: the generic
# metric each one is, or the Samples field it is computed from.
NAMED = {
    "events_ingest_serve": {
        "ingest_events_per_s": "items_per_s", "ingest_commit_p50_s": "write_p50_s",
        "ingest_commit_tail_s": "write", "dashboard_refresh_p50_s": "read_p50_s",
        "dashboard_refresh_tail_s": "read", "events_page_p50_s": "page",
    },
    "corpus_curation_batch": {"curation_docs_per_s": "items_per_s"},
    "incremental_dedup_folds": {
        "fold_docs_per_s": "items_per_s", "fold_append_p50_s": "write_p50_s",
        "fold_decisions_p50_s": "read_p50_s",
    },
}


def tail(values: list[float]):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it
    (nearest rank), as (value, percentile, n); None below 20 samples."""
    xs, n = sorted(values), len(values)
    for p in (99, 95, 90, 75, 50):
        k = -(-p * n // 100)  # nearest rank
        if n - k >= 10:
            return xs[k - 1], p, n
    return None


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file. Fields 1, 11,
    12, 13 and 14 are ppid, utime, stime, cutime and cstime."""
    with open(path) as f:
        name, _, rest = f.read().rpartition(")")
    return name, rest.split()


def _ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime: the process, its threads that have
    exited and the children it has reaped."""
    return sum(int(v) for v in fields[11:15])


def _descendant_ticks(pid: int) -> int:
    """CPU ticks of every live descendant of ``pid``. The JVM forks
    pyspark.daemon, which forks the Python workers of pandas UDFs,
    mapInPandas and applyInPandas; a worker that has exited is in the
    cutime of the process that reaped it."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                fields = _stat(f"/proc/{d}/stat")[1]
            except OSError:  # the process exited meanwhile
                continue
            procs[int(d)] = (int(fields[1]), _ticks(fields))
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    total, todo = 0, list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        total += procs[p][1]
        todo.extend(children.get(p, ()))
    return total


def _cpu_clock(pid: int, jit: bool = False):
    """CPU seconds used so far by the driver JVM ``pid``, the Python workers
    it forked and this Python process. Without ``jit``, the JVM's JIT
    compiler threads are left out: compilation is a cost of a young JVM, not
    of the workload, and it varied most from run to run. Time a hypervisor
    steals, or spends running other machines, is not CPU time."""
    tick = os.sysconf("SC_CLK_TCK")
    tasks = f"/proc/{pid}/task"

    def compiler_ticks() -> int:
        total = 0
        for tid in os.listdir(tasks):
            try:
                name, fields = _stat(f"{tasks}/{tid}/stat")
            except OSError:  # the thread exited meanwhile
                continue
            if "CompilerThre" in name:
                total += int(fields[11]) + int(fields[12])
        return total

    def cpu() -> float:
        jvm = _ticks(_stat(f"/proc/{pid}/stat")[1])
        if not jit:
            jvm -= compiler_ticks()
        t = os.times()
        return (jvm + _descendant_ticks(pid)) / tick + t.user + t.system

    return cpu


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the machine: a noisy neighbour shows as steal."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _isolate(workdir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``workdir`` and fix the session settings both sides of a comparison use."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp


def _spark(workdir: str, cores: int):
    from demo_bigdata_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        APP,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # a fixed-size heap: heap growth varies run to run and moved
            # every timing with it
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                # compiler threads live as long as the JVM, so their CPU can
                # be told apart from the workload's (_cpu_clock)
                " -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(wl, spark, tr, seconds: float, s) -> None:
    """Whole passes while one more, at the mean pass time so far, still
    ends within ``seconds``; at least one."""
    t0, n = time.perf_counter(), 0
    while True:
        s.timed_pass(wl, spark, tr)
        n += 1
        if (time.perf_counter() - t0) * (n + 1) / n > seconds:
            return


def _timings(s) -> dict:
    """Latencies are medians over the operations; the CPU seconds of the
    write and read halves are means over the pass, the shares of
    ``pass_cpu_s`` they account for."""
    return {
        "items_per_s": s.items / s.item_s,
        "write_p50_s": statistics.median(s.write),
        "read_p50_s": statistics.median(s.read),
        "pass_s": statistics.median(s.passes),
        "pass_cpu_s": statistics.median(s.pass_cpu),
        "write_cpu_s": statistics.mean(s.write_cpu),
        "read_cpu_s": statistics.mean(s.read_cpu),
    }


def _layer_metrics(workload: str, tracer, s, untraced: dict, traced: dict, local1: dict,
                   busy: float) -> dict:
    """The per-layer metrics of a traced run. A layer the workload never
    calls reports 0; the incremental-dedup layers appear only on their own
    workload, which is not in BENCHMARK.json."""
    from spans import SPAN_COUNTERS as full
    from workloads import CURATION_STAGES, EventsIngestServe, IncrementalDedupFolds

    folds = workload == IncrementalDedupFolds.name

    out: dict[str, tuple] = {
        "session.get_spark.wall_s": (untraced["get_spark_s"], "s"),
        "setup_wall_s": (untraced["setup_wall_s"], "s"),
    }
    totals = tracer.totals()
    spans = {
        "ingest.process_raw_events": full, "snapshots.append_snapshot": full,
        "snapshots.read_table": ("wall_s", "driver_s", "jobs", "tasks"),
        "serving.dashboard_stats": ("wall_s",), "serving.to_json_rows": full,
        "serving.list_events": full,
        **{name: full for name in CURATION_STAGES},
        "pipeline.commit_epoch": ("wall_s", "jobs", "tasks"),
        "pipeline.committed_view_epoch_partitioned": full,
        **({"dedup.append_dedup_batch": full, "dedup.read_dedup_survivors": full}
           if folds else {}),
    }
    for name, counters in spans.items():
        agg = totals.get(name, {})
        for c in counters:
            unit = "s" if c.endswith("_s") else ("bytes" if c.endswith("bytes") else "count")
            out[f"{name}.{c}"] = (agg.get(c, 0), unit)
    out["spill_bytes"] = (sum(a.get("spill_bytes", 0) for a in totals.values()), "bytes")
    ratios = ["ingest.keep_ratio"] + [
        f"curation.{n.split('.')[-1]}.keep_ratio" for n in CURATION_STAGES
    ]
    panels = [f"serving.panel.{p}.wall_s" for p in EventsIngestServe.panels]
    for key, unit in [(k, "ratio") for k in ratios] + [(k, "s") for k in panels] + [
        ("snapshots.live_files", "count"), ("snapshots.bytes_per_event", "bytes"),
    ] + ([("fold.index_bytes", "bytes")] if folds else []):
        vals = s.layer.get(key)
        out[key] = (statistics.median(vals) if vals else 0, unit)
    out["busy_share"] = (busy, "ratio")
    out["peak_rss_mb"] = (untraced["peak_rss_mb"], "MB")
    for k, unit in UNGATED.items():
        out[k] = (untraced[k], unit)
    for k in ("pass_cpu_s", "write_cpu_s", "read_cpu_s"):
        out[f"overhead.{k}"] = (traced[k] - untraced[k], "s")
    for k in ("write_p50_s", "read_p50_s", "pass_s"):
        out[f"local1.{k}"] = (local1[k], "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def run(workload: str, seed: int, seconds: float, traced: bool) -> int:
    import spans as T
    from workloads import WORKLOADS, Samples

    os.makedirs(RUNS_DIR, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{workload}-", dir=RUNS_DIR)
    try:
        _isolate(workdir)
        t_in = time.perf_counter()
        wl = WORKLOADS[workload](seed, workdir)
        phases = {"inputs": time.perf_counter() - t_in}  # wall seconds per phase
        s, spark, metrics, layer = Samples(), None, {}, None
        try:
            # one cold setup per run, the bulk of a run's time, so it cannot
            # be repeated; it is counted in CPU seconds of every process,
            # JIT included, because host load stretched its wall time
            py0 = sum(os.times()[:2])
            t0 = time.perf_counter()
            spark = _spark(workdir, CORES)
            get_spark_s = time.perf_counter() - t0
            jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
            wl.warmup(spark, T.NullTracer())
            setup_wall_s = phases["setup"] = time.perf_counter() - t0
            setup_s = _cpu_clock(jvm_pid, jit=True)() - py0
            s.cpu = _cpu_clock(jvm_pid)
            steal0, total0 = _cpu_jiffies()
            _measure(wl, spark, T.NullTracer(), seconds, s)
            steal1, total1 = _cpu_jiffies()
            phases["measure"] = time.perf_counter() - t0 - setup_wall_s
            metrics = {
                "setup_s": setup_s, "setup_wall_s": setup_wall_s, **_timings(s),
                "get_spark_s": get_spark_s,
                "peak_rss_mb": _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self"),
                "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            }
            if traced:
                spans_path = os.path.join(RUNS_DIR, f"{workload}-seed{seed}-spans.jsonl")
                t1 = time.perf_counter()
                spark, layer = _traced_passes(wl, spark, workdir, s, metrics, spans_path)
                phases["trace"] = time.perf_counter() - t1
        except Exception:  # a failed call ends the run and is counted
            traceback.print_exc()
            s.attempted += 1
            s.failed += 1
        finally:
            t1 = time.perf_counter()
            if spark is not None:
                spark.stop()
            _stop_jvm()
            phases["stop"] = time.perf_counter() - t1
        correct = bool(s.checks) and all(s.checks) and s.failed == 0
        failed = s.failed if all(s.checks) else s.attempted
        report = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "settings": {"master": f"local[{CORES}]", "shuffle_partitions": CORES,
                         "driver_heap": f"-Xms{DRIVER_MEM} -Xmx{DRIVER_MEM}"},
            "passes": len(s.checks), "checks": s.checks,
            "steal_share": metrics.get("steal_share"), "phases_s": phases,
            "samples": {"write": s.write, "read": s.read, "page": s.page,
                        "write_cpu": s.write_cpu, "read_cpu": s.read_cpu,
                        "pass": s.passes, "pass_cpu": s.pass_cpu},
            "named": _named(workload, metrics, s, failed),
        }
        print(json.dumps(report))
        if layer is None:
            layer = {k: {"value": metrics[k], "unit": u}
                     for k, u in END_TO_END.items() if k in metrics}
        print(json.dumps({"correct": correct, "attempted": max(s.attempted, 1),
                          "failed": failed, "metrics": layer}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _traced_passes(wl, spark, workdir, s, untraced: dict, spans_path: str):
    """One traced pass at local[CORES], then one at local[1] in a fresh
    context of the same JVM. Returns the local[1] session and the per-layer
    metrics; the spans go to ``spans_path``."""
    import spans as T
    from workloads import Samples

    tracer, ts = T.Tracer(spark), Samples(s.cpu)
    t0 = time.perf_counter()
    with _span_commit_epoch(tracer):
        ts.timed_pass(wl, spark, tracer)
    wall = time.perf_counter() - t0
    tracer.dump(spans_path)
    exec_run = sum(a.get("exec_run_s", 0) for a in tracer.totals().values())
    spark.stop()
    one = _spark(workdir, 1)  # no warm-up: the JVM's code is already warm
    t1, l1 = T.Tracer(one), Samples(s.cpu)
    with _span_commit_epoch(t1):
        l1.timed_pass(wl, one, t1)
    s.checks.extend(ts.checks + l1.checks)
    s.attempted += ts.attempted + l1.attempted
    layer = _layer_metrics(wl.name, tracer, ts, untraced, _timings(ts), _timings(l1),
                           exec_run / (wall * CORES))
    return one, layer


@contextmanager
def _span_commit_epoch(tracer):
    """Wrap streaming.pipeline.commit_epoch in a span while a traced pass
    runs: append_dedup_batch calls it internally, out of the benchmark's
    reach."""
    from demo_bigdata_spark.streaming import pipeline

    orig = pipeline.commit_epoch

    def commit_epoch(*a, **kw):
        with tracer.span("pipeline.commit_epoch"):
            return orig(*a, **kw)

    pipeline.commit_epoch = commit_epoch
    try:
        yield
    finally:
        pipeline.commit_epoch = orig


def _named(workload: str, metrics: dict, s, failed: int) -> dict:
    """This run's end-to-end metrics under their user-facing names."""
    out = {}
    for name, src in NAMED[workload].items():
        if src in metrics:
            out[name] = metrics[src]
        elif name.endswith("_p50_s"):
            xs = getattr(s, src)
            out[name] = statistics.median(xs) if xs else None
        else:
            t = tail(getattr(s, src))
            out[name] = t and {"value": t[0], "percentile": t[1], "n": t[2]}
    out["setup_s"] = metrics.get("setup_s")
    out["setup_wall_s"] = metrics.get("setup_wall_s")
    out["peak_rss_mb"] = metrics.get("peak_rss_mb")
    out["failed_op_share"] = failed / max(s.attempted, 1)
    return out


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own process; print the named metrics."""
    from workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        lines = proc.stdout.strip().splitlines()
        if len(lines) < 2:
            print(f"{name}: no result (exit {proc.returncode})")
            ok = False
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        ok &= proc.returncode == 0 and result["correct"]
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for metric, m in result["metrics"].items():
            print(f"  {metric:26s} {m['value']:.4f} {m['unit']}")
        for metric, value in report["named"].items():
            print(f"  {metric:26s} {json.dumps(value)} {_unit(metric)}")
    print("ALL CORRECT" if ok else "MISMATCH")
    return 0 if ok else 1


def _unit(metric: str) -> str:
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_share"):
        return "ratio"
    return "s"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "demo_bigdata_spark", "session.py")):
        print(f"perfbench: no demo_bigdata_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
