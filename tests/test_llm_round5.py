"""Property tests for the round-5 training-data ops (cross-engine parity
is covered by test_oracle_parity; these pin the operator-specific
invariants the oracle compare can't express)."""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark.llm import sampling, similarity  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_pack_sequences_offsets_and_contiguity(spark):
    """Each document's start offset must land inside its pack's token
    window, and pack ids must be contiguous from 0 within every shard —
    recomputed independently in pandas from the same hash order."""
    out = sampling.docs_pack_sequences(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == docs
    import hashlib

    budget = sampling.PACK_BUDGET
    for shard, grp in out.groupby("shard"):
        g = grp.copy()
        g["h"] = [
            hashlib.md5(f"{d}:pack:v1".encode()).hexdigest()
            for d in g["doc_id"]
        ]
        g = g.sort_values(["h", "doc_id"]).reset_index(drop=True)
        cum = g["n_tokens"].cumsum()
        start = cum - g["n_tokens"]
        assert (g["pack_id"] == start // budget).all()
        packs = sorted(g["pack_id"].unique())
        assert packs == list(range(len(packs)))  # contiguous from 0


def test_stratified_sample_rates_and_determinism(spark):
    """Kept fraction per stratum must track its configured rate (md5 is
    uniform), and the sample must be row-identical across runs."""
    full = spark.read.parquet(f"{SF}/documents.parquet")
    totals = {r["lang"]: r["count"] for r in full.groupBy("lang").count().collect()}
    s1 = sampling.docs_stratified_sample(spark, SF).toPandas()
    s2 = sampling.docs_stratified_sample(spark, SF).toPandas()
    assert sorted(s1["doc_id"]) == sorted(s2["doc_id"])
    kept = s1.groupby("lang")["doc_id"].count().to_dict()
    for lang, n in totals.items():
        rate = sampling.STRATA_RATES.get(lang, sampling.STRATA_DEFAULT) / 10000
        got = kept.get(lang, 0) / n
        # 50 docs/stratum at sf0.001 — generous binomial tolerance
        assert abs(got - rate) < 0.35, (lang, got, rate)
    # full-rate strata must keep everything
    for lang, r in sampling.STRATA_RATES.items():
        if r == 10000 and lang in totals:
            assert kept.get(lang, 0) == totals[lang]


def test_semantic_dedup_kept_set_is_dup_free(spark):
    """After SemDeDup, no two KEPT vectors in the same cluster may still
    be near-duplicates, and every dropped vector must have a lower-id
    near-duplicate in its cluster (verified in numpy)."""
    out = similarity.emb_semantic_dedup(spark, SF).toPandas()
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    assert len(out) == len(emb)
    assert out["keep"].any() and not out["keep"].all()

    def cos(a, b):
        return round(float(a @ b / np.sqrt((a @ a) * (b @ b))), 6)

    thr = similarity.COSINE_DUP_THRESHOLD
    for _, grp in out.groupby("assigned_label"):
        ids = sorted(grp["vec_id"])
        keep = dict(zip(grp["vec_id"], grp["keep"]))
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if keep[a] and keep[b]:
                    assert cos(emb[a], emb[b]) < thr, (a, b)
        for b in ids:
            if not keep[b]:
                assert any(
                    cos(emb[a], emb[b]) >= thr for a in ids if a < b
                ), b


def test_semantic_dedup_kmeans_matches_numpy_mirror(spark):
    """The learned-quantizer SemDeDup must agree with a full numpy
    mirror: identical Lloyd's centroids (same bounded sample, same
    deterministic init), identical cell assignment (first-argmin ties),
    identical drop set (lower-id near-dup within cell at rounded
    cosine >= threshold)."""
    import hashlib

    out = similarity.emb_semantic_dedup_kmeans(spark, SF).toPandas()
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # mirror the hash-ordered bounded sample (orderBy md5(vec_id), vec_id)
    hkeys = sorted(
        range(len(ids)),
        key=lambda j: (hashlib.md5(str(ids[j]).encode()).hexdigest(), ids[j]),
    )
    sample = E[hkeys[: similarity.KMEANS_SAMPLE_CAP]]
    # the trainer and assigner both use the BLAS distance form — the
    # mirror re-derives through the identical expression (bit-for-bit)
    cents = similarity._lloyds_blas(sample, 16, iters=similarity.KMEANS_ITERS)
    d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (E @ cents.T)
    cell = d.argmin(axis=1)
    got_cell = dict(zip(out["vec_id"], out["cell"]))
    assert all(got_cell[v] == c for v, c in zip(ids, cell))

    def cos(a, b):
        return round(float(a @ b / np.sqrt((a @ a) * (b @ b))), 6)

    thr = similarity.COSINE_DUP_THRESHOLD
    vid_ix = {v: j for j, v in enumerate(ids)}
    expected_drop = set()
    for c in range(16):
        members = sorted(ids[cell == c])
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if cos(E[vid_ix[a]], E[vid_ix[b]]) >= thr:
                    expected_drop.add(b)
    got_drop = set(out.loc[~out["keep"], "vec_id"])
    assert got_drop == expected_drop and len(out) == len(ids)


def test_tfidf_rank_within_doc(spark):
    """Every doc emits at most TFIDF_TOP rows, ranked 1..k with strictly
    descending (score, -term) order."""
    from flinkrunner_spark.llm import vocab as T

    out = T.docs_tfidf(spark, SF).toPandas()
    for _, grp in out.groupby("doc_id"):
        g = grp.sort_values("rk")
        assert list(g["rk"]) == list(range(1, len(g) + 1))
        assert len(g) <= T.TFIDF_TOP
        pairs = list(zip(g["score"], g["term"]))
        for (s1, t1), (s2, t2) in zip(pairs, pairs[1:]):
            assert s1 > s2 or (s1 == s2 and t1 < t2)
