"""Tests for the query-side similarity operators
(``s3_manifest_spark/operators/similarity.py``): the exact top-k, the
bounded query set, and the four ANN families (LSH, IVF, PQ, IVF-PQ)
that share one scan / refine / membership / certificate protocol.

Every family must (a) return a subset of the pair space with exact
cosines, (b) keep its query-side broadcast as session state, and
(c) carry a completeness certificate that is all-true for the working
index and falsifies under the family's ``broken=True`` mode."""

from __future__ import annotations

import numpy as np
import pytest

import __spark_entry__ as entrymod
from s3_manifest_spark.operators import similarity as S
from s3_manifest_spark.registry import clear_model_cache
from s3_manifest_spark.sources.tables import load_table

#: family -> registered certificate name
CERTIFICATES = {
    "lsh": "similarity_ann_lsh",
    "ivf": "similarity_ivf",
    "pq": "similarity_pq",
    "ivf_pq": "similarity_ivf_pq",
}


@pytest.fixture(scope="module")
def q():
    return entrymod.queries()


def _corpus(spark, sf_dir):
    """(ids, raw float64 vectors, unit-normalized vectors) of the
    fixture corpus, read independently of the operators under test."""
    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype="int64")
    e = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    return ids, e, e / np.linalg.norm(e, axis=1, keepdims=True)


def test_similarity_topk_matches_numpy(spark, sf_dir, q):
    """Brute-force top-k must equal an independent numpy ground truth
    (exact cosine, same rounding + tie-break)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(emb, axis=1)
    pdf = q["similarity_topk"](spark, sf_dir).toPandas()
    assert set(pdf.groupby("query_id").size()) == {5}
    for qid in ids[ids % 100 == 0]:
        qv = emb[ids == qid][0]
        cos = emb @ qv / (norms * np.linalg.norm(qv))
        order = sorted(
            [(round(c, 6), i) for c, i in zip(cos, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )
        expect = [(i, c) for c, i in order[:5]]
        got = pdf[pdf.query_id == qid].sort_values(
            ["cos_sim", "neighbor_id"], ascending=[False, True]
        )
        assert list(got.neighbor_id) == [i for i, _ in expect], f"query {qid}"
        assert np.allclose(list(got.cos_sim), [c for _, c in expect], atol=1e-6)


def test_similarity_query_set_is_hard_capped(spark, sf_dir):
    """The driver-collected query set must respect MAX_QUERIES with
    deterministic lowest-id selection — the documented driver/broadcast
    memory bound for corpora where N/QUERY_STRIDE alone would grow
    without limit."""
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    old = S.MAX_QUERIES
    try:
        S.MAX_QUERIES = 3
        pdf = S._query_pdf(v)
        assert list(pdf["vec_id"]) == [0, 100, 200]
    finally:
        S.MAX_QUERIES = old
    full = S._query_pdf(v)
    assert len(full) <= S.MAX_QUERIES
    assert (full["vec_id"] % S.QUERY_STRIDE == 0).all()


def test_ann_lsh_candidates_are_correct(spark, sf_dir, q):
    """ANN reports a subset of the true pair space with correct cosine
    values (the fixture's vectors are near-orthogonal, so recall vs
    brute force isn't meaningful — correctness of scored candidates is)."""
    bf = q["similarity_topk"](spark, sf_dir).toPandas()
    ann = S.ann_neighbors(spark, sf_dir, "lsh").toPandas()
    assert len(ann) > 0, "6-plane LSH over 500 vectors must yield collisions"
    assert set(ann.columns) == set(bf.columns)
    assert (ann.groupby("query_id").size() <= 5).all()
    # any (query, neighbor) also in brute-force output must agree on cos
    merged = ann.merge(bf, on=["query_id", "neighbor_id"], suffixes=("_a", "_b"))
    if len(merged):
        assert (merged.cos_sim_a - merged.cos_sim_b).abs().max() < 1e-9


def test_similarity_ivf_topk_shape(spark, sf_dir):
    rows = S.ann_neighbors(spark, sf_dir, "ivf").collect()
    per_query: dict[int, list] = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r)
    assert per_query, "no IVF results"
    for qid, rs in per_query.items():
        assert len(rs) <= S.TOP_K
        assert all(x.neighbor_id != qid for x in rs)
        sims = [x.cos_sim for x in rs]
        assert sims == sorted(sims, reverse=True)


def test_similarity_ivf_recall_vs_brute_force(spark, sf_dir, q):
    """IVF with K=8/nprobe=2 over near-orthogonal synthetic vectors
    must still recover a solid fraction of the true top-k (measured
    0.68 @ sf0.001, 0.80 @ sf0.01; assert a conservative floor —
    deterministic quantizer, so this is stable, not flaky)."""
    bf = q["similarity_topk"](spark, sf_dir).toPandas()
    ivf = S.ann_neighbors(spark, sf_dir, "ivf").toPandas()
    b = set(zip(bf.query_id, bf.neighbor_id))
    i = set(zip(ivf.query_id, ivf.neighbor_id))
    assert len(b & i) / len(b) >= 0.6
    # every IVF hit carries the EXACT cosine (scored, not estimated)
    merged = ivf.merge(bf, on=["query_id", "neighbor_id"], suffixes=("_i", "_b"))
    assert (merged.cos_sim_i == merged.cos_sim_b).all()


def test_ivf_family_shares_one_quantizer(spark, sf_dir):
    """_ivf_centroids is the ONE coarse quantizer model: similarity_ivf
    and similarity_ivf_pq must serve the identical cached array (no
    second fit, no divergent routing between the family members); the
    PQ codebooks it shares its Lloyd loop with must be a real
    quantizer."""
    clear_model_cache(spark)
    try:
        c1 = S._ivf_centroids(spark, sf_dir)
        # a second call — and the composed index's internal call —
        # must return the SAME cached object, not a refit
        assert S._ivf_centroids(spark, sf_dir) is c1
        S.ann_neighbors(spark, sf_dir, "ivf_pq").toPandas()
        assert S._ivf_centroids(spark, sf_dir) is c1
        mc = getattr(spark, "_smsp_model_cache", {})
        assert ("ivf", sf_dir) in mc
        # the trained codebooks must be a real quantizer: M subspace
        # tables, all-finite, and not collapsed to a single centroid
        books = S._pq_codebooks(spark, sf_dir)
        assert books.shape[0] == S.PQ_M and np.isfinite(books).all()
        assert np.unique(books.round(6), axis=1).shape[1] > 1
    finally:
        clear_model_cache(spark)


def _candidate_sets(spark, sf_dir, family, ids, e, en):
    """Per query: the vec_ids the family's canonical candidate
    generation may return, recomputed in numpy from the trained
    models — LSH: rows whose sign bucket is within Hamming radius 1 of
    the query's; IVF / IVF-PQ: rows in the query's IVF_NPROBE nearest
    cells; PQ: no routing, every other row."""
    qpdf = S._query_pdf(load_table(spark, sf_dir, "embeddings"))
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    allowed = {int(x): ids != x for x in qids}
    if family == "lsh":
        planes = np.random.RandomState(S.LSH_SEED).standard_normal(
            (S.LSH_PLANES, e.shape[1])
        )
        bits = 1 << np.arange(S.LSH_PLANES)
        sig = ((e @ planes.T) > 0) @ bits
        qsig = ((qm @ planes.T) > 0) @ bits
        for j, x in enumerate(qids):
            allowed[int(x)] = np.array(
                [bin(int(s) ^ int(qsig[j])).count("1") <= 1 for s in sig]
            )
    if family in ("ivf", "ivf_pq"):
        cent = S._ivf_centroids(spark, sf_dir)
        centn = cent / np.maximum(
            np.linalg.norm(cent, axis=1, keepdims=True), 1e-12
        )
        cells = np.argmax(en @ centn.T, axis=1)
        probes = np.argsort(-(qn @ centn.T), kind="stable", axis=1)
        for j, x in enumerate(qids):
            allowed[int(x)] = np.isin(cells, probes[j, : S.IVF_NPROBE])
    return {x: set(ids[m].tolist()) for x, m in allowed.items()}


@pytest.mark.parametrize("family", sorted(CERTIFICATES))
def test_certificate_falsifies_broken_ann(spark, sf_dir, q, family):
    """The registered similarity_ann_lsh / similarity_ivf /
    similarity_pq / similarity_ivf_pq entries are COMPLETENESS
    certificates: exact_kth_sim per query plus a deterministic flag
    (every exact-top-k member the query's canonical candidate
    generation promises must appear in the ANN output).  The flag must
    be TRUE for the working ANN and must FALSIFY under the family's
    broken mode (LSH: queries hashed with mismatched planes; IVF:
    farthest cells probed; PQ / IVF-PQ: negated ADC tables rank the
    worst candidates first) — proving the certificate arithmetic is
    load-bearing, not vacuously true.  The raw neighbor relation must
    respect the family's routing, recomputed independently in numpy
    (an IVF-PQ scan that ignored its cells would violate it)."""
    cert = q[CERTIFICATES[family]](spark, sf_dir).toPandas()
    assert set(cert.columns) == {"query_id", "exact_kth_sim", "ann_complete_ok"}
    assert len(cert) > 0
    assert cert["ann_complete_ok"].all(), family

    broken = S.family_certificate(spark, sf_dir, family, broken=True).toPandas()
    assert not broken["ann_complete_ok"].all(), family

    ids, e, en = _corpus(spark, sf_dir)
    allowed = _candidate_sets(spark, sf_dir, family, ids, e, en)
    out = S.ann_neighbors(spark, sf_dir, family).toPandas()
    assert len(out) > 0
    for qid, nid in zip(out["query_id"], out["neighbor_id"]):
        assert int(nid) in allowed[int(qid)], (family, qid, nid)


@pytest.mark.parametrize("family", sorted(CERTIFICATES))
def test_probe_broadcast_is_session_state(spark, sf_dir, family, monkeypatch):
    """One query-side broadcast per (sf_dir, family): a second serving
    call creates NO broadcast (ADVICE r17 — the old per-call path
    leaked one ~2 MB broadcast per warm call), and clear_model_cache
    destroys the cached one."""
    from pyspark import Broadcast

    clear_model_cache(spark)
    S.ann_neighbors(spark, sf_dir, family).count()
    mc = spark._smsp_model_cache
    bcs = [v for v in mc.values() if isinstance(v, Broadcast)]
    assert len(bcs) == 1

    sc = spark.sparkContext
    made = []
    real = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda v: made.append(v) or real(v))
    S.ann_neighbors(spark, sf_dir, family).count()
    assert made == []  # reused, not re-broadcast
    assert [v for v in mc.values() if isinstance(v, Broadcast)] == bcs
    monkeypatch.undo()

    clear_model_cache(spark)
    assert not any(
        isinstance(v, Broadcast) for v in spark._smsp_model_cache.values()
    )
    # destroyed JVM-side: the broadcast's executor blocks are gone (the
    # driver-local Python mirror of .value stays readable by design, so
    # probe the JVM handle instead)
    assert bcs[0]._jbroadcast.isValid() is False


def test_legacy_membership_without_cos_sim_is_fused_once(spark, sf_dir, q):
    """A model store saved before memberships carried the exact
    member's cos_sim loads a 3-column membership; the certificate must
    fuse cos_sim in once, re-cache the fused relation, and answer
    exactly as a freshly built membership does."""
    clear_model_cache(spark)
    try:
        want = (
            q["similarity_ivf"](spark, sf_dir).toPandas()
            .sort_values("query_id").reset_index(drop=True)
        )
        mc = spark._smsp_model_cache
        key = ("ann_membership_ivf", sf_dir)
        legacy = (
            mc[key][0].select("query_id", "neighbor_id", "should_find").persist()
        )
        mc[key] = (legacy,)
        got = (
            S.family_certificate(spark, sf_dir, "ivf").toPandas()
            .sort_values("query_id").reset_index(drop=True)
        )
        assert got.equals(want)
        assert "cos_sim" in mc[key][0].columns
        assert mc[key][0] is not legacy
    finally:
        clear_model_cache(spark)
