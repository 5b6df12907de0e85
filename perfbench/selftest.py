"""Self-tests of the benchmark's own code, at tiny sizes.

    python3 perfbench/selftest.py          # all checks, needs Spark (~5 min)
    python3 perfbench/selftest.py --quick  # generator and span arithmetic only

Checks: the same seed gives identical inputs and another seed different
ones; span self-time arithmetic; the CPU clock counts the Python workers
the JVM forks; and two traced passes report identical ``jobs`` and
``tasks`` for every span, the deterministic counters the per-layer
comparison relies on.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans  # noqa: E402


def test_same_seed_same_inputs():
    assert gen.event_batches(7, 2, 300) == gen.event_batches(7, 2, 300)
    assert gen.corpus(7, 300) == gen.corpus(7, 300)
    assert gen.fold_batches(7, 3, 60) == gen.fold_batches(7, 3, 60)


def test_other_seed_other_inputs():
    assert gen.event_batches(7, 2, 300) != gen.event_batches(8, 2, 300)
    assert gen.corpus(7, 300) != gen.corpus(8, 300)
    assert gen.fold_batches(7, 3, 60) != gen.fold_batches(8, 3, 60)


def test_event_shares():
    (lines, events), = gen.event_batches(3, 1, 4000)
    kept = len(events) / len(lines)
    # valid = not malformed and carrying created_at
    expected = (1 - gen.MALFORMED_SHARE) * (1 - gen.MISSING_TS_SHARE)
    assert abs(kept - expected) < 0.03, kept


def test_covered_union():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3  # clipped to the span


def test_self_times():
    S = spans.Span
    tree = [
        S("root", 0.0, 10.0, None, "op"),
        S("a", 1.0, 4.0, 0, "op"),
        S("b", 3.0, 6.0, 0, "op"),  # overlaps a: the union counts once
        S("a.child", 1.5, 2.0, 1, "op"),
        S("other", 20.0, 21.0, None, "op"),
    ]
    assert spans.self_times(tree) == [5.0, 2.5, 3.0, 0.5, 1.0]


def _counts(tracer):
    return {name: (t["jobs"], t["tasks"]) for name, t in tracer.totals().items()}


@contextmanager
def _session():
    import run

    os.makedirs(run.RUNS_DIR, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="selftest-", dir=run.RUNS_DIR)
    spark = None
    try:
        run._isolate(workdir)
        spark = run._spark(workdir, run.CORES)
        yield spark, workdir
    finally:
        if spark is not None:
            spark.stop()
        run._stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)


def _burn(batches, seconds=0.5):
    """mapInPandas body: spend ``seconds`` of CPU in the Python worker."""
    for pdf in batches:
        t0 = time.process_time()
        while time.process_time() - t0 < seconds:
            pass
        yield pdf


def test_cpu_counts_python_workers():
    """The CPU clock sees the work of the Python workers behind mapInPandas,
    not only the JVM and this process."""
    import run

    with _session() as (spark, _):
        df = spark.range(run.CORES, numPartitions=run.CORES)
        df.mapInPandas(lambda it: _burn(it, 0.0), df.schema).collect()  # start the workers
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        cpu = run._cpu_clock(pid)
        c0, w0 = cpu(), run._descendant_ticks(pid)
        df.mapInPandas(_burn, df.schema).collect()
        burnt = 0.5 * run.CORES
        workers = (run._descendant_ticks(pid) - w0) / os.sysconf("SC_CLK_TCK")
        assert workers >= 0.9 * burnt, (workers, burnt)
        assert cpu() - c0 >= workers, (cpu() - c0, workers)


def test_traced_counters_repeat():
    """Two traced passes of each tiny workload: identical jobs and tasks."""
    import run
    import workloads as W

    class TinyEvents(W.EventsIngestServe):
        batches_per_pass = 2
        batch_size = 300

    class TinyCuration(W.CorpusCurationBatch):
        n_docs = 300
        warmup_docs = 100

    class TinyFolds(W.IncrementalDedupFolds):
        epochs_per_pass = 2
        batch_size = 40

    with _session() as (spark, workdir):
        for cls in (TinyEvents, TinyCuration, TinyFolds):
            wl = cls(11, os.path.join(workdir, cls.name))
            wl.warmup(spark, spans.NullTracer())
            seen = []
            for _ in range(2):
                tr = spans.Tracer(spark)
                s = W.Samples()
                with run._span_commit_epoch(tr):
                    wl.run_pass(spark, tr, s)
                assert s.checks == [True], (cls.name, s.checks)
                seen.append(_counts(tr))
            assert seen[0] == seen[1], (cls.name, seen)
            assert all(jobs > 0 for name, (jobs, _) in seen[0].items()
                       if name != "serving.dashboard_stats"), seen[0]


def main(argv) -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    if "--quick" in argv:
        tests = [t for t in tests
                 if t not in (test_traced_counters_repeat, test_cpu_counts_python_workers)]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as e:  # report every failing check, then fail
            failed += 1
            print(f"FAIL {t.__name__}: {e!r}")
    print(f"{len(tests) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
