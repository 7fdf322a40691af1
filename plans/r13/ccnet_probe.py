"""Break docs_ccnet_buckets into its serial driver-sequenced jobs and
time each (r13 optimization probe, guide SS1.2/SS1.4).

The operator = persisted ccnet frame (bigram LM join) + the
_rank_boundary_tuples selector (stats collect, boundary collect) + the
final broadcast-join assignment. Times each piece cold-in-session and
steady-state, with the calibration loop bracketing the run.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from flinkrunner_spark import get_spark  # noqa: E402


def cal() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return round(time.perf_counter() - t0, 3)


def t(tag, fn, reps=1):
    ts = []
    out = None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        ts.append(round(time.perf_counter() - t0, 3))
    print(f"{tag:46s} {ts} median={statistics.median(ts)}")
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ccnet-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print("cal_before:", cal())

    from flinkrunner_spark.llm import pruning as P
    from flinkrunner_spark.util.memo import release_caches

    # stage 1: the persisted LM frame (localCheckpointed docs_lm_score
    # join) -- the selector's base
    frame = t("_ccnet_frame build (first count)",
              lambda: P._ccnet_frame(spark, sf_dir))
    t("_ccnet_frame count (materialize persist)", lambda: frame.count())
    t("_ccnet_frame count (steady)", lambda: frame.count(), reps=3)

    # stage 2: the selector alone
    t("_rank_boundary_tuples (steady)",
      lambda: P._rank_boundary_tuples(
          frame, "lang", "xent_nats", "doc_id", P._ntile3_cutoff_ranks),
      reps=3)

    # stage 3: the full operator (memoized frame warm)
    full = P.docs_ccnet_buckets(spark, sf_dir)
    t("docs_ccnet_buckets count (steady)",
      lambda: P.docs_ccnet_buckets(spark, sf_dir).count(), reps=3)

    # cold-cache form: drop the memo persist, rebuild everything
    release_caches()
    t("docs_ccnet_buckets count (cold caches)",
      lambda: P.docs_ccnet_buckets(spark, sf_dir).count())
    print("cal_after:", cal())
    spark.stop()


if __name__ == "__main__":
    main()
