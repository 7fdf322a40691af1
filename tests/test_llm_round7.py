"""Property tests for the round-7 training-data ops (cross-engine parity
is covered by test_oracle_parity; these pin the operator-specific
invariants the oracle compare can't express)."""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkrunner_spark.llm import chunking, lm, pq, similarity  # noqa: E402

SF = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_docs_chunk_covering_and_hashes(spark):
    """Chunk layout mirrors the stride arithmetic exactly: per doc,
    chunk_idx is contiguous from 0, count = floor((n-1)/stride)+1,
    n_tokens = min(size, n - start), and chunk_hash is the md5 of the
    space-joined token window — recomputed in pure Python."""
    out = chunking.docs_chunk(spark, SF).toPandas()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    size, stride = chunking.CHUNK_SIZE, chunking.CHUNK_STRIDE
    seen_docs = set()
    for doc_id, grp in out.groupby("doc_id"):
        toks = _tokens(docs[doc_id])
        n = len(toks)
        assert n > 0
        seen_docs.add(doc_id)
        g = grp.sort_values("chunk_idx").reset_index(drop=True)
        assert list(g["chunk_idx"]) == list(range((n - 1) // stride + 1))
        for _, row in g.iterrows():
            start = row["chunk_idx"] * stride
            chunk = toks[start : start + size]
            assert row["n_tokens"] == len(chunk)
            want = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            assert row["chunk_hash"] == want
    # every non-empty doc chunks; empty docs are absent from the output
    expected = {d for d, t in docs.items() if _tokens(t)}
    assert seen_docs == expected


def test_docs_chunk_dedup_keeper_rule(spark):
    """Every duplicated hash keeps its lexicographically-lowest
    (doc_id, chunk_idx) occurrence, counts all copies, and ignores
    short tail windows — recomputed from docs_chunk output in pandas."""
    chunks = chunking.docs_chunk(spark, SF).toPandas()
    out = chunking.docs_chunk_dedup(spark, SF).toPandas()
    big = chunks[chunks["n_tokens"] >= chunking.CHUNK_DUP_MIN_TOKENS]
    groups = big.groupby("chunk_hash")
    expected = {}
    for h, g in groups:
        if len(g) > 1:
            keep = min(zip(g["doc_id"], g["chunk_idx"]))
            expected[h] = (len(g), keep[0], keep[1])
    got = {
        r["chunk_hash"]: (r["n_copies"], r["keep_doc"], r["keep_idx"])
        for _, r in out.iterrows()
    }
    assert got == expected and len(expected) > 0


def test_docs_lm_score_matches_counter_mirror(spark):
    """The bigram cross-entropy must agree with an independent
    Counter-based mirror: same MLE conditionals, same per-doc average."""
    out = lm.docs_lm_score(spark, SF).toPandas().set_index("doc_id")
    docs = {
        r["doc_id"]: _tokens(r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    bigrams = {
        d: list(zip(t, t[1:])) for d, t in docs.items() if len(t) >= 2
    }
    c2: Counter = Counter(b for bs in bigrams.values() for b in bs)
    c1: Counter = Counter(b[0] for bs in bigrams.values() for b in bs)
    assert set(out.index) == set(bigrams)
    for d, bs in bigrams.items():
        assert out.loc[d, "n_bigrams"] == len(bs)
        xent = -sum(math.log(c2[b] / c1[b[0]]) for b in bs) / len(bs)
        assert abs(out.loc[d, "xent_nats"] - xent) < 2e-6, d
    # low-entropy tail = repetitive text: the most repetitive doc scores
    # strictly below the corpus mean (the screen has signal)
    assert out["xent_nats"].min() < out["xent_nats"].mean()


def test_emb_knn_sq8_matches_numpy_mirror(spark):
    """SQ8 ranking must agree with a numpy mirror of the same grid:
    per-dim [min,max], floor(x*255+0.5) levels, dequantized asymmetric
    cosine, identical top-k ids in order."""
    out = pq.emb_knn_sq8(spark, SF).toPandas()
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn, mx = E.min(axis=0), E.max(axis=0)
    rng = mx - mn
    flat = rng == 0
    rngs = np.where(flat, 1.0, rng)
    codes = np.floor((E - mn) / rngs * 255.0 + 0.5)
    D = np.where(flat, mn, mn + codes * (rng / 255.0))
    q = E[ids == 0][0]
    cos = np.round(
        (D @ q) / np.sqrt((D * D).sum(axis=1) * (q @ q)), 6
    )
    order = sorted(
        [(c, v) for c, v in zip(cos, ids) if v != 0],
        key=lambda t: (-t[0], t[1]),
    )[: pq.KNN_K]
    assert list(out["vec_id"]) == [v for _, v in order]
    got = dict(zip(out["vec_id"], out["acos"]))
    for c, v in order:
        assert abs(got[v] - c) < 2e-6, v


def test_emb_knn_pq_matches_numpy_mirror(spark):
    """PQ/ADC + exact re-rank must agree with a full numpy mirror:
    identical per-subspace codebooks (same hash-ordered bounded sample,
    same deterministic Lloyd's), identical codes (first-argmin ties),
    identical ADC shortlist, identical re-ranked top-k."""
    out = pq.emb_knn_pq(spark, SF).toPandas()
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hkeys = sorted(
        range(len(ids)),
        key=lambda j: (hashlib.md5(str(ids[j]).encode()).hexdigest(), ids[j]),
    )
    S = E[hkeys[: pq.PQ_TRAIN_CAP]]
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    m, kc = pq.PQ_M, pq.PQ_K
    sub = S.shape[1] // m
    C = np.stack(
        [
            similarity._lloyds_blas(S[:, j * sub : (j + 1) * sub].copy(), kc)
            for j in range(m)
        ]
    )
    q = E[ids == 0][0]
    qn = q / np.linalg.norm(q)
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    score = np.zeros(len(N))
    for j in range(m):
        adc = C[j] @ qn[j * sub : (j + 1) * sub]
        Nj = N[:, j * sub : (j + 1) * sub]
        d = (C[j] * C[j]).sum(axis=1)[None, :] - 2.0 * (Nj @ C[j].T)
        score += adc[d.argmin(axis=1)]
    short = sorted(
        [(s, v) for s, v in zip(np.round(score, 6), ids) if v != 0],
        key=lambda t: (-t[0], t[1]),
    )[: pq.PQ_SHORTLIST]
    cand = {v for _, v in short}
    cos = np.round((E @ q) / np.sqrt((E * E).sum(axis=1) * (q @ q)), 6)
    rerank = sorted(
        [(c, v) for c, v in zip(cos, ids) if v in cand],
        key=lambda t: (-t[0], t[1]),
    )[: pq.KNN_K]
    assert list(out["vec_id"]) == [v for _, v in rerank]


def _plan(spark, fn):
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_docs_chunk_zero_exchange(spark):
    """Chunking is ONE zero-shuffle projection — the 100 TB claim of
    SURVEY §2.5/48o written down against the executed plan."""
    plan = _plan(spark, chunking.docs_chunk)
    assert "Exchange" not in plan, plan


def test_docs_chunk_dedup_single_exchange(spark):
    """Chunk dedup moves only (hash, doc, idx) triples through ONE
    hash-keyed exchange with a partial (map-side) aggregate before it."""
    plan = _plan(spark, chunking.docs_chunk_dedup)
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan


def test_docs_lm_score_no_cartesian(spark):
    """LM scoring is count-table hash joins — never a row-duplicating
    cartesian/nested-loop product, text never in the join payload."""
    plan = _plan(spark, lm.docs_lm_score)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_docs_lm_score_preaggregated_join_stream(spark):
    """The stream probing the count tables is pre-aggregated to distinct
    (doc_id, w1, bigram) triples with a multiplicity weight — the join
    payload shrinks by the per-doc repetition factor instead of carrying
    one row per position (r7 verdict item 5). The executed plan must
    show that payload — either the triple-keyed aggregate inline, or
    (since the r13 materialize-once change) the materialized triple
    frame scanned back as 4 columns (doc_id, w1, bigram, cnt): an
    ExistingRDD scan (checkpoint form) or an InMemoryTableScan (the
    memoized-persist form) — and the corpus must actually have
    repetition for it to remove (otherwise the pin is vacuous)."""
    import re

    plan = _plan(spark, lm.docs_lm_score)
    assert re.search(
        r"HashAggregate\(keys=\[doc_id#\d+[^\]]*w1#\d+[^\]]*bigram#\d+",
        plan,
    ) or re.search(
        r"Scan ExistingRDD\[doc_id#\d+L?, ?w1#\d+, ?bigram#\d+, ?cnt#\d+",
        plan,
    ) or re.search(
        r"InMemoryTableScan \[doc_id#\d+L?, ?w1#\d+, ?bigram#\d+, ?cnt#\d+",
        plan,
    ), plan
    out = lm.docs_lm_score(spark, SF).toPandas()
    docs = {
        r["doc_id"]: _tokens(r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    positions = sum(len(t) - 1 for t in docs.values() if len(t) >= 2)
    triples = len(
        {
            (d, t[i], t[i], t[i + 1])
            for d, t in docs.items()
            if len(t) >= 2
            for i in range(len(t) - 1)
        }
    )
    assert int(out["n_bigrams"].sum()) == positions  # weights preserved
    assert triples < positions  # the pre-agg genuinely shrinks the join


def test_emb_knn_sq8_no_shuffle_join(spark):
    """SQ8 search joins only 1-row broadcast sides (grid stats + query);
    the corpus never shuffles — the only exchange is the global top-k."""
    plan = _plan(spark, pq.emb_knn_sq8)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_quantized_recall_vs_exact(spark):
    """Both quantized indexes must keep high recall@10 against the exact
    scan on this corpus — the compressed index ships with its quality
    measured (the ann_recall_stats discipline)."""
    exact = {r["vec_id"] for r in similarity.emb_knn(spark, SF).collect()}
    sq8 = {r["vec_id"] for r in pq.emb_knn_sq8(spark, SF).collect()}
    got_pq = {r["vec_id"] for r in pq.emb_knn_pq(spark, SF).collect()}
    assert len(exact & sq8) / len(exact) >= 0.8
    assert len(exact & got_pq) / len(exact) >= 0.8
