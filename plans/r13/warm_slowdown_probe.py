"""Diagnose the warm-pass slowdown of dedup_sbf / dedup_sbf_check /
stream_* keys (BENCH_LOCAL_r13 passes 8-16: warm 3-30x slower than cold
in the SAME session, absent in r12 passes).

Runs the bench's cold pass (all keys, sorted, count()), releases caches
exactly like bench.py, then re-times a panel of affected + control keys
with GC time, JVM thread count, and python worker process counts around
each, taking a driver jstack mid-run when a rep is slow.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

import __spark_entry__ as entrymod  # noqa: E402
from flinkrunner_spark import get_spark  # noqa: E402


def jvm_stats(spark):
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    gc_n = 0
    for b in mf.getGarbageCollectorMXBeans():
        gc_ms += b.getCollectionTime()
        gc_n += b.getCollectionCount()
    threads = mf.getThreadMXBean().getThreadCount()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    return {
        "gc_ms": gc_ms,
        "gc_n": gc_n,
        "jvm_threads": threads,
        "heap_used_mb": heap.getUsed() // (1 << 20),
        "heap_committed_mb": heap.getCommitted() // (1 << 20),
    }


def pyworker_count():
    out = subprocess.run(
        ["ps", "-eo", "pid,rss,cmd"], capture_output=True, text=True
    ).stdout
    workers = [
        ln for ln in out.splitlines() if "pyspark.daemon" in ln or "pyspark.worker" in ln
    ]
    rss_mb = sum(int(ln.split()[1]) for ln in workers) // 1024
    return len(workers), rss_mb


def jstack(tag):
    # driver JVM pid: resolve OUR OWN session's JVM via its runtime name
    # (pid@host), not a host-wide pgrep — under multi-session load a
    # pattern match can dump an unrelated driver (r13 advisor item)
    from flinkrunner_spark import get_spark

    spark = get_spark("warm-slowdown-probe")
    rt = (
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getName()
    )
    pid = rt.split("@")[0]
    d = subprocess.run(["jstack", pid], capture_output=True, text=True)
    if d.returncode == 0:
        with open(f"/tmp/jstack_{tag}_{pid}.txt", "w") as f:
            f.write(d.stdout)
        return f"/tmp/jstack_{tag}_{pid}.txt"
    return None


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("warm-slowdown-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = entrymod.queries()
    panel = [
        "dedup_first", "dedup_sbf", "dedup_sbf_check", "agg_basic",
        "stream_filter_by_control",
    ]

    def run_one(name):
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 2)

    print("== fresh-session panel ==", flush=True)
    for name in panel:
        s0 = jvm_stats(spark)
        dt = run_one(name)
        s1 = jvm_stats(spark)
        nw, rss = pyworker_count()
        print(f"fresh {name}: {dt}s gc+{s1['gc_ms']-s0['gc_ms']}ms "
              f"heap={s1['heap_used_mb']}MB thr={s1['jvm_threads']} "
              f"pyworkers={nw}({rss}MB)", flush=True)

    print("== cold pass over all keys ==", flush=True)
    from flinkrunner_spark.util.memo import release_caches
    t0 = time.perf_counter()
    for name, fn in sorted(queries.items()):
        if name == "docs_pipeline":
            release_caches()
        t1 = time.perf_counter()
        fn(spark, sf_dir).count()
        dt = time.perf_counter() - t1
        if dt > 8:
            print(f"  [cold] {name}: {dt:.1f}s", flush=True)
    print(f"cold pass total: {time.perf_counter()-t0:.0f}s", flush=True)

    release_caches()

    print("== post-cold panel (3 reps) ==", flush=True)
    for rep in range(3):
        for name in panel:
            s0 = jvm_stats(spark)
            nw0, rss0 = pyworker_count()
            # async jstack 2s into the run
            stop = threading.Event()

            def dump_later():
                if not stop.wait(2.0):
                    p = jstack(f"{name}_rep{rep}")
                    if p:
                        print(f"    jstack -> {p}", flush=True)

            th = threading.Thread(target=dump_later, daemon=True)
            th.start()
            dt = run_one(name)
            stop.set()
            s1 = jvm_stats(spark)
            nw, rss = pyworker_count()
            print(f"rep{rep} {name}: {dt}s gc+{s1['gc_ms']-s0['gc_ms']}ms "
                  f"gcN+{s1['gc_n']-s0['gc_n']} heap={s1['heap_used_mb']}MB "
                  f"thr={s1['jvm_threads']} pyworkers={nw0}->{nw}({rss}MB)",
                  flush=True)


if __name__ == "__main__":
    main()
