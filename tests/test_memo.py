"""The one memo registry for the shared llm/* frames (util/memo.py): memo
hits, per-corpus release, freed executor storage, eviction of a stopped
application's entries, and the no-leak invariant a benchmark relies on
between passes."""

from __future__ import annotations

import ast
import pathlib

import pyarrow as pa
import pytest

from flinkrunner_spark.llm import collocations, dedup, dsir, sketches
from flinkrunner_spark.llm.similarity import list_matrix
from flinkrunner_spark.util import memo

SF = "/root/testdata/sf0.001"
OTHER = SF + "#other"  # a second corpus key; nothing reads its files
PKG = pathlib.Path(memo.__file__).resolve().parents[1]

# case -> (rows of a query building the frame, the memo accessor,
#          the memo points one query call leaves behind)
CASES = {
    "dsir": (
        lambda s: dsir.docs_dsir_sample(s, SF).collect(),
        lambda s: dsir._bucketed_features(s, SF),
        ["bucketed_features"],
    ),
    "sketches": (
        lambda s: sketches.docs_heavy_hitters(s, SF).collect(),
        lambda s: sketches._token_stream_cached(s, SF),
        ["pin", "token_stream"],
    ),
    "collocations": (
        lambda s: collocations.docs_pmi_bigrams(s, SF).collect(),
        lambda s: collocations._pair_counts(s, SF),
        ["pair_counts"],
    ),
    "dedup": (
        lambda s: sorted(dedup.docs_dup_clusters(s, SF).collect()),
        lambda s: dedup._sig_shingles(s, SF),
        ["dup_clusters", "sig_shingles"],
    ),
}

# queries() keys that, run together, reach every memo point
MEMO_KEYS = (
    "docs_minhash_lsh",
    "docs_dup_clusters",
    "emb_dup_pairs_rhlsh",
    "emb_knn_join",
    "emb_knn_ivf_kmeans",
    "emb_outliers",
    "docs_ccnet_buckets",
    "docs_heavy_hitters",
    "docs_pmi_bigrams",
    "docs_dsir_sample",
    "emb_dup_clusters",
)


def _storage_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def _points(sf_dir: str) -> list[str]:
    return sorted(k[2] for k in memo._MEMO if k[1] == sf_dir)


def _memo_points_in_source() -> set[str]:
    """The name (first key element) of every ``memo(...)`` call site in
    the package."""
    names = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "memo"
                and isinstance(node.args[2], ast.Tuple)
            ):
                names.add(node.args[2].elts[0].value)
    return names


@pytest.mark.parametrize("case", sorted(CASES))
def test_memo_lifecycle(spark, case):
    """A memo hit returns the same object, release_caches(sf_dir) empties
    only that corpus and frees its executor storage (persisted and
    localCheckpoint blocks alike), and recomputing after the release
    gives identical rows."""
    rows, frame, points = CASES[case]
    memo.release_caches()
    other = memo.memo(
        spark, OTHER, ("probe",), lambda: spark.range(8).persist()
    )
    other.count()
    baseline = _storage_ids(spark)
    out = rows(spark)
    assert _points(SF) == points
    df = frame(spark)
    assert frame(spark) is df  # memo hit
    assert df.storageLevel.useMemory
    grown = _storage_ids(spark) - baseline
    assert grown  # the memoized frames materialized into storage
    assert rows(spark) == out
    memo.release_caches(SF)
    assert _points(SF) == []
    assert _points(OTHER) == ["probe"]  # only that corpus is released
    assert not df.storageLevel.useMemory
    assert not _storage_ids(spark) & grown
    assert other.storageLevel.useMemory
    assert rows(spark) == out  # recompute-from-scratch path
    memo.release_caches()
    assert not other.storageLevel.useMemory


def test_stopped_application_entries_dropped_on_next_access(spark):
    stale = ("app-of-a-stopped-session", SF, "probe")
    memo._MEMO[stale] = object()
    assert memo.memo(spark, SF, ("probe",), lambda: 7) == 7
    assert stale not in memo._MEMO
    memo.release_caches(SF)
    assert _points(SF) == []


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_then_clear_cache_leaves_no_persisted_rdd(spark):
    """Running every memoized key, then release_caches() + clearCache(),
    leaves none of their persisted RDDs behind — the between-pass reset a
    benchmark relies on (in a fresh session: getPersistentRDDs() empty).
    Per-call checkpoints count too: nothing waits on the JVM GC."""
    import __spark_entry__ as E

    queries = E.queries()
    memo.release_caches()
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    for key in MEMO_KEYS:
        queries[key](spark, SF).count()
    assert set(_points(SF)) == _memo_points_in_source()
    memo.release_caches()
    spark.catalog.clearCache()
    assert _persistent_ids(spark) - before == set()


def test_one_release_caches_in_the_package():
    defs = [
        path.relative_to(PKG).as_posix()
        for path in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef)
        and node.name == "release_caches"
    ]
    assert defs == ["util/memo.py"]


def test_list_matrix_reshapes_equal_length_lists():
    col = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).slice(1)
    assert list_matrix(col, 2).tolist() == [[3.0, 4.0], [5.0, 6.0]]


@pytest.mark.parametrize(
    "col",
    [
        pa.array([[1.0, 2.0], None, [3.0, 4.0]]),
        pa.array([[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]]),
    ],
    ids=["null", "ragged"],
)
def test_list_matrix_rejects_null_and_ragged_batches(col):
    with pytest.raises(ValueError):
        list_matrix(col, 3)


def test_arrow_mapper_rejects_null_embedding(spark):
    """End to end: a null embedding fails the Python worker instead of
    shifting the sign codes of every later row in its batch."""
    from flinkrunner_spark.llm.similarity import (
        RH_CODES_SCHEMA,
        rh_codes_mapper,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    codes = df.mapInArrow(rh_codes_mapper(1, 2), schema=RH_CODES_SCHEMA)
    with pytest.raises(Exception, match="null rows"):
        codes.collect()
