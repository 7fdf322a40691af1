"""Measurement harness for the r14 optimization round (guide §1).

Usage: python plans/r14/measure_one.py KEY [KEY...] [--plan SUFFIX]
       [--reps N] [--noop]

Times each queries() key with the bench's count() action (and optionally
the noop sink, guide §1.4) on the bench session, labels jobs
(setJobDescription), and with --plan writes .explain("formatted") to
plans/r14/<key>_<SUFFIX>.txt.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from flinkrunner_spark import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    plan_suffix = None
    if "--plan" in args:
        i = args.index("--plan")
        plan_suffix = args[i + 1]
        del args[i : i + 2]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    use_noop = "--noop" in args
    if use_noop:
        args.remove("--noop")
    # --no-release: bench-pass semantics (caches NOT released between
    # keys/reps) — measures cross-key shared-frame behavior
    no_release = "--no-release" in args
    if no_release:
        args.remove("--no-release")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("flinkrunner-spark-measure")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # streaming engine warmup (mirrors bench.py)
    import shutil
    import tempfile

    warm_dir = tempfile.mkdtemp(prefix="measure-stream-warm-")
    try:
        spark.range(10).write.mode("overwrite").parquet(warm_dir + "/in")
        wq = (
            spark.readStream.schema("id long")
            .parquet(warm_dir + "/in")
            .writeStream.format("memory")
            .queryName("_measure_stream_warm")
            .option("checkpointLocation", warm_dir + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(60)
        wq.stop()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    queries = entrymod.queries()
    from flinkrunner_spark.util.memo import release_caches

    for key in args:
        fn = queries[key]
        for r in range(reps):
            if not no_release:
                release_caches()
            spark.sparkContext.setJobDescription(f"{key} rep{r}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            t1 = time.perf_counter()
            n = df.count()
            t_count = time.perf_counter() - t1
            t_noop = None
            if use_noop:
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t_noop = time.perf_counter() - t2
            print(
                f"MEASURE {key} rep={r} build={t_build:.3f}s "
                f"count={t_count:.3f}s rows={n}"
                + (f" noop={t_noop:.3f}s" if t_noop is not None else "")
            )
            sys.stdout.flush()
        if plan_suffix:
            with open(
                os.path.join(REPO, "plans", "r14", f"{key}_{plan_suffix}.txt"),
                "w",
            ) as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))
    spark.stop()


if __name__ == "__main__":
    main()
