"""Semantics of the pruning screens (llm/pruning.py) beyond the oracle
parity rows: the outlier flag marks exactly floor(0.2·cluster) vectors
per cluster (the farthest ones), and CCNet buckets are per-language
near-equal thirds ordered by cross-entropy."""

from __future__ import annotations

from pyspark.sql import functions as F

from flinkrunner_spark.llm.pruning import docs_ccnet_buckets, emb_outliers
from flinkrunner_spark.util.memo import release_caches

SF = "/root/testdata/sf0.001"


def test_outlier_fraction_per_cluster(spark):
    out = emb_outliers(spark, SF)
    agg = out.groupBy("assigned_label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_outlier").cast("int")).alias("n_out"),
    )
    for r in agg.collect():
        assert r["n_out"] == int(r["n"] * 0.2)  # floor


def test_outliers_are_the_farthest(spark):
    out = emb_outliers(spark, SF)
    worst_kept = out.filter(~F.col("is_outlier")).groupBy(
        "assigned_label"
    ).agg(F.min("cosine").alias("min_kept"))
    best_out = out.filter(F.col("is_outlier")).groupBy(
        "assigned_label"
    ).agg(F.max("cosine").alias("max_out"))
    j = worst_kept.join(best_out, "assigned_label").collect()
    assert j, "expected at least one cluster with outliers"
    for r in j:
        assert r["max_out"] <= r["min_kept"]


def test_ccnet_buckets_balanced_and_ordered(spark):
    b = docs_ccnet_buckets(spark, SF)
    sizes = {
        (r["lang"], r["bucket"]): r["n"]
        for r in b.groupBy("lang", "bucket").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    langs = {k[0] for k in sizes}
    for lang in langs:
        ns = [sizes.get((lang, k), 0) for k in ("head", "middle", "tail")]
        assert max(ns) - min(ns) <= 1, (lang, ns)  # ntile near-equal
    # every head xent <= every tail xent within a language
    agg = b.groupBy("lang").pivot(
        "bucket", ["head", "tail"]
    ).agg(F.max("xent_nats").alias("mx"), F.min("xent_nats").alias("mn"))
    for r in agg.collect():
        assert r["head_mx"] <= r["tail_mn"] or r["head_mx"] is None


def test_ccnet_drops_sub_bigram_docs(spark):
    b = docs_ccnet_buckets(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert b.count() <= docs.count()
    assert b.select("doc_id").distinct().count() == b.count()


def test_ntile3_cutoff_ranks_match_spark_ntile(spark):
    """The driver-side ntile arithmetic must agree with Spark's NTILE
    for every small n (covers all remainder classes + degenerates)."""
    from pyspark.sql import Window

    from flinkrunner_spark.llm.pruning import _ntile3_cutoff_ranks

    for n in range(1, 12):
        df = spark.range(n).withColumn(
            "q",
            F.ntile(3).over(Window.orderBy("id")),
        )
        got = {r["id"] + 1: r["q"] for r in df.collect()}  # rank -> bucket
        cuts = _ntile3_cutoff_ranks(n)
        for rank in range(1, n + 1):
            want = (
                1 if rank <= cuts.get(1, 0)
                else 2 if rank <= cuts.get(2, 0)
                else 3
            )
            assert got[rank] == want, (n, rank, cuts, got)


def test_rank_boundary_tuples_exact_with_ties(spark):
    """The histogram-refinement selector returns EXACTLY the rank-k
    (val, id) tuple under (val ASC, id ASC) — including boundary ties —
    for every group and every k, at a bin count small enough to force
    multi-row boundary bins."""
    from flinkrunner_spark.llm.pruning import _rank_boundary_tuples

    rows = []
    vals = [1.0, 2.0, 2.0, 2.0, 3.0, 5.0, 5.0, 8.0, 9.0, 9.0]
    for g in ("a", "b"):
        for i, v in enumerate(vals):
            rows.append((g, v + (1.0 if g == "b" else 0.0), i))
    df = spark.createDataFrame(rows, "g string, v double, i long")
    expect = {
        g: sorted(
            [(r[1], r[2]) for r in rows if r[0] == g]
        )
        for g in ("a", "b")
    }
    for k in (1, 3, 4, 7, 10):
        got = _rank_boundary_tuples(
            df, "g", "v", "i", lambda n, k=k: {1: k}, bins=4
        )
        for g in ("a", "b"):
            assert got[g][1] == expect[g][k - 1], (g, k, got[g])
    # multiple ranks in one pass, constant-value degenerate group
    one = spark.createDataFrame(
        [("c", 7.0, i) for i in range(5)], "g string, v double, i long"
    )
    got = _rank_boundary_tuples(
        one, "g", "v", "i", lambda n: {1: 2, 2: 4}, bins=4
    )
    assert got["c"][1] == (7.0, 1) and got["c"][2] == (7.0, 3)


def test_defaults_match_window_anchors(spark):
    """The broadcast-cutoff defaults must reproduce the window anchors
    row-for-row (the ntile/row_number exactness contracts)."""
    from flinkrunner_spark.llm.pruning import (
        docs_ccnet_buckets_window,
        emb_outliers_window,
    )

    for default_fn, anchor_fn in (
        (docs_ccnet_buckets, docs_ccnet_buckets_window),
        (emb_outliers, emb_outliers_window),
    ):
        d = {tuple(r) for r in default_fn(spark, SF).collect()}
        a = {tuple(r) for r in anchor_fn(spark, SF).collect()}
        assert d == a


def test_default_plans_have_no_group_windows(spark):
    """The r10 verdict's two perf-weak findings stay closed: the
    returned default plans rank nothing per-language / per-cluster —
    assignment is a broadcast join + map-side tuple comparison."""
    ccnet = docs_ccnet_buckets(spark, SF)
    plan = ccnet._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    out = emb_outliers(spark, SF)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only window allowed is the centroid fold's bounded
    # (label, pos) chunk rank — never one over assigned_label alone
    assert "windowspecdefinition(assigned_label" not in plan, plan
    assert "ntile" not in plan


def test_rank_boundary_distributed_bin_location_many_groups(spark):
    """The r12 DISTRIBUTED bin locator (per-group prefix-window +
    broadcast rank-spec join, no #groups×bins driver collect) stays
    exact when the group count scales: 40 groups with irregular sizes
    and seeded-random values, every requested rank cross-checked
    against a full python sort — including ranks that land on bin
    boundaries and several ranks sharing one bin."""
    import random

    from flinkrunner_spark.llm.pruning import _rank_boundary_tuples

    rng = random.Random(12)
    rows = []
    for g in range(40):
        n = 5 + (g * 7) % 60
        for i in range(n):
            # duplicates on purpose: values drawn from a small lattice
            rows.append((g, float(rng.randint(0, 19)) / 4.0, i))
    df = spark.createDataFrame(rows, "g int, v double, i long").repartition(8)

    def ranks_for_n(n):
        # first, ~median, last — plus a second-in-group probe so two
        # ranks routinely share the lowest bins
        return {1: 1, 2: min(2, n), 3: (n + 1) // 2, 4: n}

    got = _rank_boundary_tuples(df, "g", "v", "i", ranks_for_n, bins=8)
    by_g = {}
    for g, v, i in rows:
        by_g.setdefault(g, []).append((v, i))
    for g, tuples in by_g.items():
        tuples.sort()
        want = {w: tuples[r - 1] for w, r in ranks_for_n(len(tuples)).items()}
        assert got[g] == want, (g, got[g], want)


def test_rank_boundary_driver_volume_is_o_groups(spark, monkeypatch):
    """r12 verdict item 8 (hardening): the selector's driver-side
    collects stay O(#groups) under a CORPUS-SCALED group key (k≈sqrt(n)
    cells) — never O(rows) and never O(#groups × bins). Counts the rows
    every .collect() inside _rank_boundary_tuples actually ships to the
    driver by wrapping DataFrame.collect."""
    from flinkrunner_spark.llm import pruning

    n_rows = 4096
    n_groups = 64  # k ≈ sqrt(n): the learned-cells scaling the r12
    bins = 128     # fix landed for — groups×bins (8192) > n_rows here,
    #                so an O(groups×bins) cumulation would exceed even
    #                the row count and fail the bound loudly
    rows = [
        (i % n_groups, float((i * 2654435761) % 997), i)
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(rows, "g int, v double, i long").repartition(8)

    collected = []
    # patch the CONCRETE class (pyspark.sql.classic DataFrame overrides
    # collect; patching the pyspark.sql.DataFrame base never intercepts)
    dataframe_cls = type(df)
    real_collect = dataframe_cls.collect

    def counting_collect(self):
        out = real_collect(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(dataframe_cls, "collect", counting_collect)

    def ranks_for_n(n):
        return {1: 1, 2: (n + 1) // 2, 3: n}

    got = pruning._rank_boundary_tuples(
        df, "g", "v", "i", ranks_for_n, bins=bins
    )
    assert len(got) == n_groups
    n_ranks = 3
    # pass 1 ships #groups stats rows; the final pass ships one boundary
    # tuple per (group, rank). NOTHING else may reach the driver.
    assert len(collected) == 2, collected
    assert sum(collected) == n_groups + n_groups * n_ranks, collected
    assert sum(collected) < n_rows
    assert sum(collected) < n_groups * bins


def test_rank_boundary_bounds_matches_tuple_twin(spark):
    """The r13 collect-free frame form returns EXACTLY the boundary
    rows of the driver-facing tuple twin — same 40-group lattice
    fixture as the many-groups test, ranks derived in-cluster by the
    ntile3 SQL arithmetic vs `_ntile3_cutoff_ranks` on the driver, and
    by the outlier floor(n*frac) expression vs python int(n*frac)."""
    import random

    from flinkrunner_spark.llm.pruning import (
        _ntile3_cutoff_ranks,
        _rank_boundary_bounds,
        _rank_boundary_tuples,
    )

    rng = random.Random(12)
    rows = []
    for g in range(40):
        n = 1 + (g * 7) % 60  # includes tiny groups (n=1, n<5)
        for i in range(n):
            rows.append((g, float(rng.randint(0, 19)) / 4.0, i))
    df = spark.createDataFrame(rows, "g int, v double, i long").repartition(8)

    # ntile3 spec: SQL rank exprs == python helper
    frame = _rank_boundary_bounds(
        df, "g", "v", "i",
        lambda n: [
            (1, F.floor(n / 3) + (n % 3 >= 1).cast("long")),
            (
                2,
                2 * F.floor(n / 3)
                + (n % 3 >= 1).cast("long")
                + (n % 3 >= 2).cast("long"),
            ),
        ],
        bins=8,
    )
    got = {}
    for r in frame.collect():
        got.setdefault(r[0], {})[r[1]] = (r[2], r[3])
    want = _rank_boundary_tuples(
        df, "g", "v", "i", _ntile3_cutoff_ranks, bins=8
    )
    assert got == want

    # outlier spec: floor(n * 0.2) in SQL == int(n * 0.2) on the driver
    frame = _rank_boundary_bounds(
        df, "g", "v", "i",
        lambda n: [(1, F.floor(n * F.lit(0.2)))], bins=8
    )
    got = {}
    for r in frame.collect():
        got.setdefault(r[0], {})[r[1]] = (r[2], r[3])
    want = _rank_boundary_tuples(
        df, "g", "v", "i",
        lambda n: ({1: int(n * 0.2)} if int(n * 0.2) >= 1 else {}),
        bins=8,
    )
    assert got == want


def test_production_selectors_ship_zero_rows_to_driver(spark, monkeypatch):
    """r13 guide-§5 pin: the PRODUCTION consumers (docs_ccnet_buckets,
    emb_outliers) never collect() — the rank spec derives in-cluster
    and the boundary frame broadcast-joins back, so the driver ships
    zero data rows even while the frames materialize."""
    from flinkrunner_spark.llm import pruning

    release_caches()
    dataframe_cls = None
    collected = []

    df_probe = spark.range(1)
    dataframe_cls = type(df_probe)
    real_collect = dataframe_cls.collect

    def counting_collect(self):
        out = real_collect(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(dataframe_cls, "collect", counting_collect)
    assert docs_ccnet_buckets(spark, SF).count() > 0
    assert emb_outliers(spark, SF).count() > 0
    assert collected == [], collected
    monkeypatch.undo()
    release_caches()
