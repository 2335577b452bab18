"""Tests of the kNN-graph operators: the exact graph (``knn_graph``),
the one block top-k kernel, the LSH candidate sweeps
(``knn_graph_ann_neighbors`` corpus-wide, the sampled sweep against
its probe table), the served index and its caches, the completeness
certificates (``knn_graph_ann``, ``knn_graph_ann_sampled``), the
stream-maintained index (``streaming/knn_index.py``) and the capture
tuning curve.  Synthetic frames route through monkeypatched loaders
and call the module-level (unmemoized) functions, so nothing poisons
the session plan cache; a test that lets synthetic rows into the
session model cache clears it."""

from __future__ import annotations

import numpy as np
import pandas as pd

from s3_manifest_spark.operators import similarity as S
from s3_manifest_spark.operators.similarity import KNN_GRAPH_K, knn_graph
from s3_manifest_spark.registry import clear_model_cache, session_model_cache
from s3_manifest_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


# ---------------------------------------------------------------------------
# Exact graph and the block top-k kernel
# ---------------------------------------------------------------------------


def test_knn_graph_matches_numpy(spark):
    emb = load_table(spark, SF, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb], dtype="int64")
    m = np.stack([np.asarray(r["embedding"], dtype="float64") for r in emb])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    res = knn_graph(spark, SF).toPandas()
    assert set(res["vec_id"]) == set(ids.tolist())
    by_q = {
        q: sorted(
            zip(g["neighbor_id"], g["cos_sim"]),
            key=lambda kv: (-kv[1], kv[0]),
        )
        for q, g in res.groupby("vec_id")
    }
    for qi, qid in enumerate(ids):
        row = sims[qi].copy()
        cand = [(int(ids[j]), row[j]) for j in range(len(ids)) if ids[j] != qid]
        want = sorted(cand, key=lambda kv: (-kv[1], kv[0]))[:KNN_GRAPH_K]
        got = [(int(n), float(s)) for n, s in by_q[int(qid)]]
        assert [n for n, _ in got] == [n for n, _ in want], qid
        assert all(
            abs(gs - ws) < 2e-6 for (_, gs), (_, ws) in zip(got, want)
        ), qid


def test_knn_graph_no_self_edges_and_k_rows(spark):
    res = knn_graph(spark, SF).toPandas()
    assert (res["vec_id"] != res["neighbor_id"]).all()
    per = res.groupby("vec_id").size()
    assert (per == KNN_GRAPH_K).all()


def test_knn_graph_corpus_smaller_than_k(spark, monkeypatch):
    """3 vectors, k=5: every vector emits exactly its 2 real
    neighbors — the per-block partial top-k and the merge window must
    not pad, duplicate, or drop under-full candidate sets."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 0),
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    out = S.knn_graph(spark, SF).toPandas()
    per = out.groupby("vec_id").size()
    assert (per == 2).all() and len(per) == 3
    assert (out["vec_id"] != out["neighbor_id"]).all()
    # vec 1's nearest is 2 (cos ~0.994), then 3
    top1 = out[out["vec_id"] == 1].sort_values("cos_sim", ascending=False)
    assert list(top1["neighbor_id"]) == [2, 3]


def test_block_topk_kernel_matches_lexsort():
    """JVM-free pin of the one block top-k kernel (both kNN sweeps and
    the exact graph score through it): per A-row, the top-k of B under
    (rounded cosine desc, neighbor_id asc) with self-matches masked by
    id — equal to a brute-force ``np.lexsort`` over random blocks with
    many tied scores, a zero row on each side (cosine 0, never NaN) and
    blocks smaller than k."""
    rng = np.random.RandomState(5)
    k = KNN_GRAPH_K

    def unit(m):  # independent of the kernel's clamp
        norm = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(norm == 0, 1.0, norm)

    for n_a, n_b, dim in ((7, 12, 4), (5, 3, 4), (1, 1, 2), (9, 30, 3)):
        # B ids ascending (packing sorts them); A shares some B ids
        ib = np.sort(rng.choice(50, n_b, replace=False)).astype("int64")
        n_self = min(n_a, n_b) // 2 if n_a > 1 else 1
        ia = np.concatenate(
            [ib[:n_self], 50 + rng.choice(50, n_a - n_self, replace=False)]
        ).astype("int64")
        # small-integer components: many exactly tied rounded cosines
        a = rng.randint(-2, 3, (n_a, dim)).astype("float64")
        b = rng.randint(-2, 3, (n_b, dim)).astype("float64")
        a[-1] = 0.0
        b[-1] = 0.0
        sims = np.round(unit(a) @ unit(b).T, 6)
        want = []
        for i, qid in enumerate(ia):
            keep = ib != qid
            cand, s = ib[keep], sims[i, keep]
            want += [
                (int(qid), int(cand[j]), float(s[j]))
                for j in np.lexsort((cand, -s))[:k]
            ]
        got = S._block_topk(ia, a, ib, b, k)
        if not want:
            assert got is None, (n_a, n_b)
            continue
        assert got["cos_sim"].notna().all()
        assert list(
            zip(got["vec_id"], got["neighbor_id"], got["cos_sim"])
        ) == want, (n_a, n_b, dim)


# ---------------------------------------------------------------------------
# Corpus-wide candidate sweep (knn_graph_ann_neighbors)
# ---------------------------------------------------------------------------


def _numpy_sigs(rows, p):
    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p, len(rows[0][1])))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p, dtype=np.int64)
    return (((m @ planes.T) > 0) * powers).sum(axis=1).astype("int64")


def _numpy_ann_topk(rows, p, radius, k):
    """Independent twin of the candidate sweep: exact top-k per vector
    RESTRICTED to candidates within Hamming ``radius`` of its seeded
    signature, under the shared (rounded sim desc, id asc) order."""
    ids = np.array([r[0] for r in rows], dtype="int64")
    m = np.array([r[1] for r in rows], dtype="float64")
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = np.round(m @ m.T, 6)
    sigs = _numpy_sigs(rows, p)
    out = []
    for i, qid in enumerate(ids):
        ham = np.array(
            [bin(int(sigs[i]) ^ int(s)).count("1") for s in sigs]
        )
        keep = (ham <= radius) & (ids != qid)
        cand_ids, cand_sims = ids[keep], sims[i, keep]
        order = np.lexsort((cand_ids, -cand_sims))[:k]
        for j in order:
            out.append((qid, cand_ids[j], cand_sims[j]))
    return (
        pd.DataFrame(out, columns=["vec_id", "neighbor_id", "cos_sim"])
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )


def _knn_ann_numpy_reference(spark):
    """Pure-numpy replica of the candidate-pair sweep: signatures from
    the SAME seeded plane matrix, candidate set = Hamming <= radius,
    per-vector top-k among candidates under the final order."""
    from s3_manifest_spark.operators.similarity import (
        KNN_ANN_MULTIPROBE,
        KNN_ANN_SEED_OFFSET,
        LSH_SEED,
        _knn_ann_planes,
    )

    emb = load_table(spark, SF, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb], dtype="int64")
    m = np.stack([np.asarray(r["embedding"], dtype="float64") for r in emb])
    p = _knn_ann_planes(len(ids))
    planes = np.random.RandomState(
        LSH_SEED + KNN_ANN_SEED_OFFSET
    ).standard_normal((p, m.shape[1]))
    powers = 1 << np.arange(p, dtype=np.int64)
    sigs = (((m @ planes.T) > 0) * powers).sum(axis=1)
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = np.round(mn @ mn.T, 6)
    ham = np.array(
        [[bin(int(a ^ b)).count("1") for b in sigs] for a in sigs]
    )
    want: dict[int, list] = {}
    for i, qid in enumerate(ids):
        cand = [
            (int(ids[j]), sims[i, j])
            for j in range(len(ids))
            if ids[j] != qid and ham[i, j] <= KNN_ANN_MULTIPROBE
        ]
        if cand:
            want[int(qid)] = sorted(cand, key=lambda kv: (-kv[1], kv[0]))[
                :KNN_GRAPH_K
            ]
    return want


def test_knn_graph_ann_matches_numpy(spark):
    """The production candidate-pair sweep must equal the numpy
    reference EXACTLY: same candidates (seeded LSH buckets, Hamming <=
    radius), same per-vector top-k order, same rounded scores."""
    from s3_manifest_spark.operators.similarity import (
        knn_graph_ann_neighbors,
    )

    want = _knn_ann_numpy_reference(spark)
    res = knn_graph_ann_neighbors(spark, SF).toPandas()
    by_q = {
        int(q): sorted(
            zip(g["neighbor_id"], g["cos_sim"]),
            key=lambda kv: (-kv[1], kv[0]),
        )
        for q, g in res.groupby("vec_id")
    }
    assert set(by_q) == set(want)
    for qid, w in want.items():
        got = [(int(n), float(s)) for n, s in by_q[qid]]
        assert [n for n, _ in got] == [n for n, _ in w], qid
        assert all(
            abs(gs - ws) < 2e-6 for (_, gs), (_, ws) in zip(got, w)
        ), qid


def test_knn_graph_ann_zero_vector_yields_no_nan(spark, monkeypatch):
    """The zero-norm clamp every kernel normalizes through (_unit,
    ADVICE r13) is load-bearing: a zero vector must score cos 0
    against everything — never NaN, which would silently poison every
    ranking it touches — in the kNN-graph sweeps, in the sampled
    certificate, and in the query-side exact scan (vec 100 is a zero
    vector AND a similarity_topk / sampled-certificate query)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 0.0], 0),  # zero vector
        (4, [0.0, 1.0], 0),
        (100, [0.0, 0.0], 0),  # zero vector, a query point
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    for fn in (S.knn_graph, S.knn_graph_ann_neighbors):
        out = fn(spark, SF).toPandas()
        assert out["cos_sim"].notna().all(), fn.__name__
        assert (out["vec_id"] != out["neighbor_id"]).all()
        # the zero vector's similarities are exactly 0 wherever it
        # appears as a neighbor
        z = out[out["neighbor_id"] == 3]
        assert (z["cos_sim"] == 0.0).all()
    # the session-cached query states below are built from these rows:
    # clear them on both sides
    clear_model_cache(spark)
    try:
        top = S.similarity_topk(spark, SF).toPandas()
        assert set(top["query_id"]) == {100}
        assert top["cos_sim"].notna().all()
        assert (top["cos_sim"] == 0.0).all()
        assert sorted(top["neighbor_id"]) == [1, 2, 3, 4]
        cert = S.knn_graph_ann_sampled(spark, SF).toPandas()
        assert set(cert["vec_id"]) == {4, 100}
        assert cert["exact_kth_sim"].notna().all()
        assert cert.loc[cert["vec_id"] == 100, "exact_kth_sim"].tolist() == [0.0]
        assert cert["ann_complete_ok"].all()
    finally:
        clear_model_cache(spark)


def test_knn_graph_ann_candidates_respect_probe_radius(spark, monkeypatch):
    """Every (vec, neighbor) edge the candidate sweep emits must lie
    within Hamming radius KNN_ANN_MULTIPROBE of the seeded signature
    assignment — recomputed independently in numpy (the sweep may
    RETURN fewer per vector than knn_graph; it must never return a
    pair its buckets cannot have generated)."""
    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(40)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    out = S.knn_graph_ann_neighbors(spark, SF).toPandas()
    assert len(out) > 0
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p, 8))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p, dtype=np.int64)
    sigs = (((m @ planes.T) > 0) * powers).sum(axis=1)
    sig_of = {r[0]: int(s) for r, s in zip(rows, sigs)}
    for _, row in out.iterrows():
        ham = bin(sig_of[row["vec_id"]] ^ sig_of[row["neighbor_id"]]).count("1")
        assert ham <= S.KNN_ANN_MULTIPROBE, (row["vec_id"], row["neighbor_id"])


def test_knn_graph_ann_hot_bucket_salting(spark, monkeypatch):
    """A pathological hot bucket (every vector in one direction →
    one LSH bucket) must split into capped sub-blocks WITHOUT
    changing the output: same top-k as an uncapped all-in-one-bucket
    sweep, and no packed block larger than the cap."""
    import pandas as pd

    rng = np.random.RandomState(11)
    base = rng.standard_normal(8)
    rows = [
        (
            int(i),
            [float(x) for x in (base + 0.01 * rng.standard_normal(8))],
            0,
        )
        for i in range(120)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    baseline = (
        S.knn_graph_ann_neighbors(spark, SF)
        .toPandas()
        .sort_values(["vec_id", "cos_sim", "neighbor_id"])
        .reset_index(drop=True)
    )
    monkeypatch.setattr(S, "KNN_ANN_MAX_BLOCK", 16)
    capped = (
        S.knn_graph_ann_neighbors(spark, SF)
        .toPandas()
        .sort_values(["vec_id", "cos_sim", "neighbor_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(capped, baseline)
    # and the packed relation actually respected the cap
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    sigs = S._ann_signatures(
        _emb_df(spark, rows).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p,
    ).withColumnRenamed("sig", "bucket")
    packed = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    ).toPandas()
    sizes = packed["ids"].map(len)
    # the salt hash balances sub-blocks in EXPECTATION (binomial
    # spread around occ/nsalt) — a 120-member hot bucket at cap 16
    # must land far below the uncapped 120, not exactly at 16
    assert sizes.max() <= 2 * 16, sizes.tolist()
    assert sizes.mean() <= 16, sizes.tolist()
    # the hot direction really did concentrate: >1 sub-block per bucket
    assert (packed.groupby("blk").size() > 1).any()


def test_knn_graph_ann_radius2_matches_numpy_twin(spark, monkeypatch):
    """ADVICE r14: probe_radius=2 must actually widen the probe set to
    all 2-bit flips (the old comprehension silently probed radius 1).
    The sweep's output must equal the independent numpy twin's exact
    top-k restricted to Hamming<=2 candidates — which, on a corpus
    where some exact neighbor sits exactly 2 bits away, differs from
    the radius-1 result."""
    rng = np.random.RandomState(23)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(60)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))

    got2 = (
        S.knn_graph_ann_neighbors(spark, SF, probe_radius=2)
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want2 = _numpy_ann_topk(rows, p, radius=2, k=S.KNN_GRAPH_K)
    pd.testing.assert_frame_equal(
        got2[["vec_id", "neighbor_id", "cos_sim"]], want2
    )

    # and the widening is real on this corpus: radius 2 surfaces at
    # least one (vec, neighbor) pair radius 1 cannot generate
    want1 = _numpy_ann_topk(rows, p, radius=1, k=S.KNN_GRAPH_K)
    k2 = set(map(tuple, got2[["vec_id", "neighbor_id"]].to_numpy()))
    k1 = set(map(tuple, want1[["vec_id", "neighbor_id"]].to_numpy()))
    assert k2 - k1, "fixture never exercises a 2-bit probe"


def test_served_index_plane_count_wins(spark, monkeypatch):
    """ADVICE r14: a served index is probed with ITS OWN plane count,
    not one re-derived from the current corpus file.  Build an index
    at a deliberately different plane count than _knn_ann_planes(file)
    and check the sweep against a numpy twin at the INDEX's count —
    a file-derived flip set would probe the wrong bits."""
    rng = np.random.RandomState(31)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(50)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p_file = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    p_idx = p_file + 3  # the other side of a plane boundary

    sigs = S._ann_signatures(
        _emb_df(spark, rows).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p_idx,
    ).withColumnRenamed("sig", "bucket")
    packed = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    )
    got = (
        S.knn_graph_ann_neighbors(spark, SF, index=(packed, p_idx))
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want = _numpy_ann_topk(rows, p_idx, radius=1, k=S.KNN_GRAPH_K)
    pd.testing.assert_frame_equal(
        got[["vec_id", "neighbor_id", "cos_sim"]], want
    )


# ---------------------------------------------------------------------------
# Served index, probe table and membership caches
# ---------------------------------------------------------------------------


def test_index_cache_carries_plane_count(spark):
    """The session cache stores (packed, planes) so a reload across a
    corpus-growth boundary keeps probing its own bit width."""
    packed, p = S._knn_ann_index_cached(spark, SF)
    assert isinstance(p, int) and S.KNN_ANN_MIN_PLANES <= p <= S.KNN_ANN_MAX_PLANES
    cached = session_model_cache(spark)[("knn_ann_index", SF)]
    assert int(cached[1]) == p


def test_legacy_index_cache_tuple_triggers_rebuild(spark):
    """A pre-r15 persisted store loads the index as a 1-tuple (no
    plane count): the cache read must REBUILD rather than pair the
    packed relation with a re-derived count."""
    mc = session_model_cache(spark)
    key = ("knn_ann_index", SF)
    fresh_packed, fresh_p = S._knn_ann_index_cached(spark, SF)
    try:
        mc[key] = (fresh_packed,)  # simulate a legacy store load
        packed, p = S._knn_ann_index_cached(spark, SF)
        assert p == fresh_p
        assert len(mc[key]) == 2  # rebuilt entry carries the count
    finally:
        mc.pop(key, None)


def test_query_probe_table_rebuilds_on_plane_width(spark):
    """The sampled sweep's probe table is session state stored WITH
    its plane count: served warm at the same width; a demand at
    another width (an index reloaded across a _knn_ann_planes
    boundary) destroys the stale broadcast and rebuilds at the
    caller's width; clear_model_cache destroys it.  Its contents are
    the stride sample routed by the canonical planes and expanded by
    the multi-probe masks, recomputed here in numpy."""
    clear_model_cache(spark)
    try:
        mc = session_model_cache(spark)
        key = ("knn_query_probes", SF)
        _, p = S._knn_ann_index_cached(spark, SF)
        bc = S._knn_query_probes(spark, SF, p)
        assert mc[key][0] is bc and int(mc[key][1]) == p
        assert S._knn_query_probes(spark, SF, p) is bc

        emb = load_table(spark, SF, "embeddings").toPandas()
        emb = emb[emb["vec_id"] % S.KNN_CERT_STRIDE == 0].sort_values("vec_id")
        emb = emb.head(S.MAX_QUERIES)
        m = np.stack(emb["embedding"].to_numpy()).astype("float64")
        planes = np.random.RandomState(
            S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
        ).standard_normal((p, m.shape[1]))
        sigs = (((m @ planes.T) > 0) * (1 << np.arange(p))).sum(axis=1)
        want = {
            (int(vid), int(sig) ^ mask)
            for vid, sig in zip(emb["vec_id"], sigs)
            for mask in [0] + [1 << b for b in range(p)]
        }
        got = {
            (int(vid), blk) for blk, (ids, _) in bc.value.items() for vid in ids
        }
        assert got == want

        wide = S._knn_query_probes(spark, SF, p + 3)
        assert wide is not bc and int(mc[key][1]) == p + 3
        assert bc._jbroadcast.isValid() is False
        assert max(wide.value) >= 1 << p  # probes the wider bit range
        clear_model_cache(spark)
        assert wide._jbroadcast.isValid() is False
    finally:
        clear_model_cache(spark)


def test_parent_store_with_query_pack_loads(spark, tmp_path):
    """A model store saved before the probe table replaced the sampled
    query pack still holds a ``knn_query_pack`` entry (the
    pre-exploded (ids_a, mat_a, pblk) frame plus its plane count,
    written as save_models wrote it).  It loads — the retired kind is
    skipped, so no dead frame is pinned — and the sampled certificate
    serves the same answer as before the save."""
    import json
    import os

    from s3_manifest_spark import models

    def sampled():
        return (
            S.knn_graph_ann_sampled(spark, SF).toPandas()
            .sort_values("vec_id").reset_index(drop=True)
        )

    clear_model_cache(spark)
    try:
        want = sampled()
        store = str(tmp_path / "store")
        models.save_models(spark, store)
        _, p = S._knn_ann_index_cached(spark, SF)
        pack = spark.createDataFrame(
            [
                (ids.tolist(), mat.ravel().tolist(), blk)
                for blk, (ids, mat) in S._knn_query_probes(spark, SF, p)
                .value.items()
            ],
            "ids_a array<long>, mat_a array<double>, pblk long",
        )
        slug = models._slug(("knn_query_pack", SF))
        base = os.path.join(store, slug)
        pack.write.parquet(f"{base}__f0.parquet")
        with open(base + ".json", "w") as f:
            json.dump([p], f)
        manifest_path = os.path.join(store, "MODELS.json")
        with open(manifest_path) as f:
            manifest = json.load(f)
        manifest[slug] = {
            "key": ["knn_query_pack", SF],
            "kind": "frames+scalars",
            "n_frames": 1,
        }
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)

        clear_model_cache(spark)
        loaded = models.load_models(spark, store, sf_dir=SF)
        mc = session_model_cache(spark)
        assert slug not in loaded
        assert ("knn_query_pack", SF) not in mc
        for kind in ("knn_exact_sampled", "knn_ann_index", "ann_membership_knn_s"):
            assert (kind, SF) in mc, kind
        assert sampled().equals(want)
    finally:
        clear_model_cache(spark)


def test_membership_cache_keyed_on_planes(spark):
    """A membership relation certifies should_find at a specific bit
    width; a cached hit under a DIFFERENT served plane count must
    rebuild so the completeness certificate grades the promise the
    sweep actually probes."""
    mc = session_model_cache(spark)
    key = ("ann_membership_knn", SF)
    saved = mc.pop(key, None)
    calls = []

    def builder():
        calls.append(1)
        return spark.range(1).select(
            "id",
        )

    try:
        m1 = S._membership_cached(spark, SF, "knn", builder, planes=12)
        assert calls == [1]
        assert len(mc[key]) == 2 and int(mc[key][1]) == 12
        # same planes -> served from cache
        m2 = S._membership_cached(spark, SF, "knn", builder, planes=12)
        assert calls == [1] and m2 is m1
        # different planes -> rebuild, cached ALONGSIDE the first
        # width (two-slot cache: the boundary-reload scenario has two
        # live widths alternating per bench pass — neither thrashes)
        m3 = S._membership_cached(spark, SF, "knn", builder, planes=15)
        assert calls == [1, 1]
        assert sorted(
            int(v) for v in mc[key] if not hasattr(v, "columns")
        ) == [12, 15]
        # BOTH widths now serve from cache without rebuilds
        assert (
            S._membership_cached(spark, SF, "knn", builder, planes=12)
            is m1
        )
        assert (
            S._membership_cached(spark, SF, "knn", builder, planes=15)
            is m3
        )
        assert calls == [1, 1]
        # a third width evicts the oldest (bounded at two)
        S._membership_cached(spark, SF, "knn", builder, planes=18)
        assert calls == [1, 1, 1]
        assert sorted(
            int(v) for v in mc[key] if not hasattr(v, "columns")
        ) == [15, 18]
        # legacy planes-less entry -> rebuild when a count is demanded
        mc[key] = (m1,)
        S._membership_cached(spark, SF, "knn", builder, planes=15)
        assert calls == [1, 1, 1, 1]
    finally:
        mc.pop(key, None)
        if saved is not None:
            mc[key] = saved


def test_knn_ann_membership_accepts_served_plane_count(spark, monkeypatch):
    """The should_find flags at the served index's count must match an
    independent numpy recomputation at that SAME count — and differ
    from the file-derived count's flags on a corpus where the two
    widths disagree (the post-reload shape ADVICE r15 names)."""
    rng = np.random.RandomState(47)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(60)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p_file = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    p_idx = p_file + 4

    exact = spark.createDataFrame(
        [(int(i), int((i + 1) % 60), i / 100.0) for i in range(60)],
        "vec_id long, neighbor_id long, cos_sim double",
    )
    rows_out = S._knn_ann_membership(spark, SF, exact, planes=p_idx).collect()
    got = {(r.vec_id, r.neighbor_id): r.should_find for r in rows_out}
    # the exact member's cos_sim rides along for the certificate
    assert {(r.vec_id, r.cos_sim) for r in rows_out} == {
        (i, i / 100.0) for i in range(60)
    }

    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p_idx, 8))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p_idx, dtype=np.int64)
    sigs = (((m @ planes.T) > 0) * powers).sum(axis=1).astype("int64")
    for i in range(60):
        j = (i + 1) % 60
        want = (
            bin(int(sigs[i]) ^ int(sigs[j])).count("1")
            <= S.KNN_ANN_MULTIPROBE
        )
        assert got[(i, j)] == want, (i, j)


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_corpus_wide_membership_is_distributed(spark):
    """The registered corpus-wide 'knn' kind must come back as a
    distributed checkpoint, never a single-partition LocalRelation
    (the exact configuration ADVICE r17 flagged as an unbounded
    driver collect at the 100 TB design point)."""
    from s3_manifest_spark.operators.similarity import (
        _knn_ann_index_cached,
        _knn_ann_membership,
        _knn_exact_cached,
        _membership_cached,
    )
    from s3_manifest_spark.registry import clear_model_cache

    sf = "/root/testdata/sf0.001"
    clear_model_cache(spark)
    exact = _knn_exact_cached(spark, sf)
    idx = _knn_ann_index_cached(spark, sf)
    m = _membership_cached(
        spark,
        sf,
        "knn",
        lambda: _knn_ann_membership(spark, sf, exact, planes=idx[1]),
        planes=idx[1],
        localize=False,
    )
    assert _plan_node(m) == "LogicalRDD"
    clear_model_cache(spark)


# ---------------------------------------------------------------------------
# Completeness certificates
# ---------------------------------------------------------------------------


def test_knn_graph_ann_certificate_falsifies(spark):
    """The registered knn_graph_ann entry is a completeness
    certificate: all-true on the working sweep, and it must FLIP when
    the sweep is deliberately broken (probe_radius=0 drops the 1-bit
    flip probes the canonical membership still promises) — proving
    the flag is load-bearing, not vacuously true."""
    import __spark_entry__ as entrymod

    from s3_manifest_spark.operators.similarity import (
        _ann_certificate,
        _knn_ann_membership,
        _knn_exact_cached,
        knn_graph_ann_neighbors,
    )

    cert = entrymod.queries()["knn_graph_ann"](spark, SF).toPandas()
    assert set(cert.columns) == {"vec_id", "exact_kth_sim", "ann_complete_ok"}
    assert len(cert) > 0
    assert cert["ann_complete_ok"].all()

    exact = _knn_exact_cached(spark, SF)
    membership = _knn_ann_membership(spark, SF, exact)
    broken = _ann_certificate(
        knn_graph_ann_neighbors(spark, SF, probe_radius=0).withColumnRenamed(
            "vec_id", "query_id"
        ),
        membership.withColumnRenamed("vec_id", "query_id"),
    ).toPandas()
    assert not broken["ann_complete_ok"].all()


def test_fused_certificate_equals_join_path(spark, sf_dir):
    """The corpus-wide certificate path (membership pre-fused with
    cos_sim at build time + per-query found-set aggregation) must
    produce row-identical output to the exact⋈membership⋈found join
    semantics, recomputed here in pandas — on the working sweep AND on
    a broken sweep (so the completeness flag stays falsifiable through
    the fused shape)."""
    from s3_manifest_spark.operators.similarity import (
        _ann_certificate,
        _knn_ann_membership,
        _knn_exact_cached,
        knn_graph_ann_neighbors,
    )
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)
    exact = _knn_exact_cached(spark, sf_dir)
    fused = _knn_ann_membership(spark, sf_dir, exact)
    assert "cos_sim" in fused.columns  # production exact → fused build
    exact_pdf = exact.select("vec_id", "neighbor_id", "cos_sim").toPandas()
    bare = fused.select("vec_id", "neighbor_id", "should_find").toPandas()

    for radius in (None, 0):  # working sweep, then broken (radius-0)
        kwargs = {} if radius is None else {"probe_radius": radius}
        ann = knn_graph_ann_neighbors(spark, sf_dir, **kwargs)
        new = (
            _ann_certificate(
                ann.withColumnRenamed("vec_id", "query_id"),
                fused.withColumnRenamed("vec_id", "query_id"),
                broadcast_found=False,
            )
            .toPandas()
            .sort_values("query_id")
            .reset_index(drop=True)
        )
        # the join path: exact ⟕ membership ⟕ found, one groupBy
        found = ann.select("vec_id", "neighbor_id").toPandas().assign(found=True)
        j = exact_pdf.merge(bare, on=["vec_id", "neighbor_id"], how="left").merge(
            found, on=["vec_id", "neighbor_id"], how="left"
        )
        j["ok"] = ~(j["should_find"].eq(True) & j["found"].isna())
        old = (
            j.groupby("vec_id")
            .agg(exact_kth_sim=("cos_sim", "min"), ann_complete_ok=("ok", "min"))
            .reset_index()
            .rename(columns={"vec_id": "query_id"})
        )
        old["exact_kth_sim"] = old["exact_kth_sim"].round(6)
        assert new["query_id"].tolist() == old["query_id"].tolist()
        assert new["exact_kth_sim"].tolist() == old["exact_kth_sim"].tolist()
        assert new["ann_complete_ok"].tolist() == old["ann_complete_ok"].tolist()
        if radius == 0:  # the broken sweep must falsify
            assert not new["ann_complete_ok"].all()
    clear_model_cache(spark)


def test_knn_sampled_certificate_equals_full_restricted(spark):
    """The production-scale sampled certificate must equal the full
    certificate restricted to the sampled vectors — the sampled exact
    side (broadcast-query O(|S|N) pass) and the full O(N^2) graph
    must agree on every sampled vector's k-th similarity and
    completeness flag."""
    import pandas as pd
    import __spark_entry__ as entrymod

    from s3_manifest_spark.operators.similarity import KNN_CERT_STRIDE

    qs = entrymod.queries()
    full = qs["knn_graph_ann"](spark, SF).toPandas()
    sampled = qs["knn_graph_ann_sampled"](spark, SF).toPandas()
    want = (
        full[full["vec_id"] % KNN_CERT_STRIDE == 0]
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    got = sampled.sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0 and got["ann_complete_ok"].all()


# ---------------------------------------------------------------------------
# Stream-maintained index (streaming/knn_index.py)
# ---------------------------------------------------------------------------


def _norm_packed(df):
    """Comparable form of a packed bucket relation: one row per
    (bucket, member-id tuple) with the flattened matrix rounded —
    sub-block salt values are an internal detail, but MEMBERSHIP per
    sub-block must match exactly for the streamed and batch packs to
    be the same index."""
    pdf = df.toPandas()
    rows = sorted(
        (int(r["blk"]), tuple(r["ids"]), tuple(np.round(r["mat"], 6)))
        for _, r in pdf.iterrows()
    )
    return rows


def test_streamed_knn_index_multi_batch_equals_batch_index(spark):
    """The kNN-ANN index maintainer under FORCED multi-batch arrival
    (one file per trigger) must produce exactly the batch-built packed
    index — per-vector closure makes batch boundaries invisible, and
    read-time packing recomputes the global occupancy salting the
    batch path uses."""
    from s3_manifest_spark.sources.tables import load_table, parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p,
                                    max_files_per_trigger=1)
    streamed = S._pack_buckets_salted(
        ki.read_knn_index_store(spark, store, p)
    )
    v = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    sigs = S._ann_signatures(
        v, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
    ).withColumnRenamed("sig", "bucket")
    batch = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    )
    assert _norm_packed(streamed) == _norm_packed(batch)
    # and the served sweep over the streamed index equals the batch one
    got = (
        S.knn_graph_ann_neighbors(spark, sf, index=(streamed, p))
        .toPandas().sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want = (
        S.knn_graph_ann_neighbors(spark, sf)
        .toPandas().sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_knn_index_sink_is_idempotent_under_redelivery(spark):
    """Re-delivering a micro-batch (at-least-once foreachBatch
    semantics) must leave the store unchanged: overwrite-by-batch, not
    append — an append would duplicate vectors inside packed blocks
    and corrupt the scorer's diagonal self-mask."""
    import os

    from s3_manifest_spark.sources.tables import parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p)
    cols = ["vec_id", "bucket"]

    def norm():
        pdf = ki.read_knn_index_store(spark, store, p).toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    before = norm()
    # simulate foreachBatch re-delivering batch 0 (the whole spool
    # drained in one availableNow trigger)
    sigs = S._ann_signatures(
        spark.read.parquet(spool).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p,
    ).withColumnRenamed("sig", "bucket")
    sigs.select("vec_id", "bucket", "embedding").write.mode(
        "overwrite"
    ).parquet(os.path.join(store, "batch0"))
    after = norm()
    pd.testing.assert_frame_equal(before, after)


def test_knn_index_plane_boundary_fails_loud(spark):
    """A drain or read configured with a different plane count than
    the store's metadata must raise (the rebuild trigger), never
    silently mix signature widths."""
    import pytest

    from s3_manifest_spark.sources.tables import parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p)
    with pytest.raises(ValueError, match="REBUILD"):
        ki.read_knn_index_store(spark, store, p + 1)
    with pytest.raises(ValueError, match="REBUILD"):
        ki._check_planes(store, p - 1, "appended to")


def test_delta_pack_equals_full_pack(spark):
    """delta_pack_knn_index(prev_packed, append) must equal the full
    pack of (old ∪ new) exactly — untouched buckets reuse their served
    blocks byte-identically (per-bucket salting), touched buckets
    repack at their new occupancy."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    rng = np.random.RandomState(61)
    dim = 8

    def rows_df(ids):
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(dim)], 0)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).select("vec_id", "embedding")

    old = rows_df(range(200))
    new = rows_df(range(200, 260))
    p = 6  # few planes -> plenty of shared + hot buckets to salt

    def sig(df):
        return S._ann_signatures(
            df, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket").select(
            "vec_id", "bucket", "embedding"
        )

    old_rows, new_rows = sig(old), sig(new)
    prev_packed = S._pack_buckets_salted(old_rows)
    got = delta_pack_knn_index(prev_packed, new_rows)
    want = S._pack_buckets_salted(old_rows.unionByName(new_rows))
    assert _norm_packed(got) == _norm_packed(want)
    # the delta genuinely touched a strict subset: some served blocks
    # must survive untouched for the reuse claim to mean anything
    touched = {r.bucket for r in new_rows.select("bucket").distinct().collect()}
    all_blks = {r.blk for r in prev_packed.select("blk").distinct().collect()}
    assert touched - all_blks or all_blks - touched


def test_delta_pack_resalts_hot_bucket(spark):
    """An append that pushes one bucket past KNN_ANN_MAX_BLOCK must
    re-split THAT bucket into more sub-blocks (salt count is a
    function of new occupancy), while leaving other buckets' block
    rows identical to the served relation."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    rng = np.random.RandomState(67)
    dim = 4
    cap = S.KNN_ANN_MAX_BLOCK

    def mk(ids, bucket):
        rows = [
            (int(i), int(bucket), [float(x) for x in rng.standard_normal(dim)])
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, bucket long, embedding array<float>"
        )

    # bucket 1 at exactly cap (1 sub-block served); bucket 2 small
    old_rows = mk(range(cap), 1).unionByName(mk(range(cap, cap + 3), 2))
    prev_packed = S._pack_buckets_salted(old_rows)
    served_b1 = [r for r in _norm_packed(prev_packed) if r[0] == 1]
    served_b2 = [r for r in _norm_packed(prev_packed) if r[0] == 2]
    assert len(served_b1) == 1
    # append cap more members to bucket 1 -> must split into 2 salts
    new_rows = mk(range(1000, 1000 + cap), 1)
    got = _norm_packed(delta_pack_knn_index(prev_packed, new_rows))
    got_b1 = [r for r in got if r[0] == 1]
    got_b2 = [r for r in got if r[0] == 2]
    assert len(got_b1) == 2
    assert got_b2 == served_b2  # untouched bucket reused as-is
    want = _norm_packed(
        S._pack_buckets_salted(old_rows.unionByName(new_rows))
    )
    assert got == want


def test_delta_pack_property_random_appends(spark):
    """For arbitrary (store, append) splits — including empty appends,
    all-new buckets, all-touched buckets, and appends that push buckets
    over the salt cap — delta_pack_knn_index(prev, append) equals the
    full pack of the union.  A deterministic seed sweep stands in for
    hypothesis here: each example costs several Spark jobs, so the
    sweep keeps the example count bounded while still varying store
    size, append size, bucket skew, and dimension."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    for seed, n_old, n_new, n_buckets, dim in (
        (1, 40, 0, 8, 4),      # empty append: result == prev exactly
        (2, 30, 30, 4, 4),     # heavy overlap, hot buckets past the cap
        (3, 25, 10, 1000, 6),  # sparse buckets: appends land in NEW buckets
        (4, 5, 60, 6, 3),      # append dominates the store
        (5, 64, 7, 2, 5),      # two buckets only, both necessarily touched
    ):
        rng = np.random.RandomState(seed)

        def mk(ids):
            rows = [
                (
                    int(i),
                    int(rng.randint(0, n_buckets)),
                    [float(x) for x in rng.standard_normal(dim)],
                )
                for i in ids
            ]
            return spark.createDataFrame(
                rows, "vec_id long, bucket long, embedding array<float>"
            )

        old_rows = mk(range(n_old))
        new_rows = mk(range(10_000, 10_000 + n_new))
        prev = S._pack_buckets_salted(old_rows)
        got = _norm_packed(delta_pack_knn_index(prev, new_rows))
        want = _norm_packed(
            S._pack_buckets_salted(old_rows.unionByName(new_rows))
        )
        assert got == want, (seed, n_old, n_new, n_buckets, dim)


def test_refresh_knn_index_policy_and_equality(spark):
    """refresh_knn_index applies the SCALE.md cadence policy (delta for
    small appends, full re-pack for bulk loads) and BOTH paths produce
    the identical packed relation."""
    from s3_manifest_spark.streaming.knn_index import (
        KNN_REFRESH_DELTA_FRACTION,
        refresh_knn_index,
    )

    rng = np.random.RandomState(71)
    dim = 8

    def rows_df(ids):
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(dim)])
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    p = 6
    n_store = 300

    def sig(df):
        return S._ann_signatures(
            df, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket").select(
            "vec_id", "bucket", "embedding"
        )

    old_rows = sig(rows_df(range(n_store)))
    prev = S._pack_buckets_salted(old_rows).localCheckpoint(eager=True)

    # a 1-row append sits under fraction*store -> delta path
    small = sig(rows_df([10_000]))
    got_small, path_small = refresh_knn_index(prev, small, n_store)
    assert path_small == "delta"
    want_small = S._pack_buckets_salted(old_rows.unionByName(small))
    assert _norm_packed(got_small) == _norm_packed(want_small)

    # a bulk append (half the store) -> full re-pack path
    bulk = sig(rows_df(range(20_000, 20_000 + n_store // 2)))
    got_bulk, path_bulk = refresh_knn_index(prev, bulk, n_store)
    assert path_bulk == "full"
    want_bulk = S._pack_buckets_salted(old_rows.unionByName(bulk))
    assert _norm_packed(got_bulk) == _norm_packed(want_bulk)

    assert 0 < KNN_REFRESH_DELTA_FRACTION < 0.01


# ---------------------------------------------------------------------------
# Capture tuning curve and expected capture
# ---------------------------------------------------------------------------


def _python_capture(cos, p, radius):
    """Pure-Python twin of _hyperplane_capture_expr."""
    import math

    q = 1.0 - math.acos(min(max(cos, -1.0), 1.0)) / math.pi
    total = 0.0
    for j in range(radius + 1):
        total += math.comb(p, j) * (q ** (p - j)) * ((1.0 - q) ** j)
    return total


def test_knn_ann_tuning_curve_matches_python_twin(spark):
    """Every grid cell's expected/min capture equals a pure-Python
    recomputation from the same exact kNN edges (1.01x-quantum
    tolerance: Python round is banker's, the engines' is half-up)."""
    got = S.knn_ann_tuning_curve(spark, SF).toPandas()
    edges = S._knn_exact_cached(spark, SF).toPandas()
    assert set(got["planes"]) == set(S.KNN_ANN_TUNING_PLANES)
    assert set(got["probe_radius"]) == set(S.KNN_ANN_TUNING_RADII)
    for _, row in got.iterrows():
        caps = [
            _python_capture(c, int(row["planes"]), int(row["probe_radius"]))
            for c in edges["cos_sim"]
        ]
        assert row["n_edges"] == len(caps)
        assert abs(row["expected_capture"] - sum(caps) / len(caps)) <= 1.01e-6
        assert abs(row["min_capture"] - min(caps)) <= 1.01e-6


def test_knn_ann_tuning_curve_is_monotone(spark):
    """Capture must rise with probe radius at fixed planes and fall
    with planes at fixed radius — the recall-vs-cost dial the curve
    exists to expose."""
    got = S.knn_ann_tuning_curve(spark, SF).toPandas()
    piv = got.pivot(index="planes", columns="probe_radius",
                    values="expected_capture")
    for p in S.KNN_ANN_TUNING_PLANES:
        assert piv.loc[p, 0] < piv.loc[p, 1] < piv.loc[p, 2]
    for r in S.KNN_ANN_TUNING_RADII:
        col = piv[r]
        assert (col.sort_index(ascending=True).diff().dropna() < 0).all()


def test_knn_ann_tuning_expectation_tracks_empirical(spark):
    """The analytic expectation must track the MEASURED capture under
    the engine's actual seeded planes (the number the curve exists to
    predict).  Deterministic given the seed; the margin is ~4 sigma of
    the binomial spread at the fixture's 250 edges (KNN_ANN_TUNING.json
    carries the per-config gaps at sf0.1 — all within ~2 sigma)."""
    import math

    pmax = max(S.KNN_ANN_TUNING_PLANES)
    from s3_manifest_spark.sources.tables import load_table

    v = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    sigs = {
        int(r["vec_id"]): int(r["sig"])
        for r in S._ann_signatures(
            v, seed_offset=S.KNN_ANN_SEED_OFFSET, with_embedding=False,
            planes=pmax,
        ).collect()
    }
    edges = S._knn_exact_cached(spark, SF).toPandas()
    curve = S.knn_ann_tuning_curve(spark, SF).toPandas()
    for _, row in curve.iterrows():
        p, r = int(row["planes"]), int(row["probe_radius"])
        mask = (1 << p) - 1
        emp = (
            sum(
                1
                for _, e in edges.iterrows()
                if bin(
                    (sigs[int(e["vec_id"])] ^ sigs[int(e["neighbor_id"])])
                    & mask
                ).count("1")
                <= r
            )
            / len(edges)
        )
        exp = row["expected_capture"]
        sigma = math.sqrt(max(exp * (1 - exp), 1e-9) / len(edges))
        assert abs(emp - exp) <= 4 * sigma + 0.01, (p, r, emp, exp)


def test_expected_capture_matches_registered_curve_row(spark):
    """knn_ann_expected_capture at a grid config must equal the
    registered tuning curve's expected_capture for that (planes,
    radius) row — same expression, same edges, same rounding."""
    curve = {
        (r.planes, r.probe_radius): r.expected_capture
        for r in S.knn_ann_tuning_curve(spark, SF).collect()
    }
    for p, rad in ((8, 1), (16, 0), (12, 2)):
        got = S.knn_ann_expected_capture(spark, SF, planes=p, radius=rad)
        assert got == curve[(p, rad)], (p, rad, got, curve[(p, rad)])


def test_expected_capture_default_is_active_dial(spark):
    """With no overrides the number describes the PRODUCTION dial —
    the corpus-adaptive plane count at KNN_ANN_MULTIPROBE — and lands
    in (0, 1]."""
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    got = S.knn_ann_expected_capture(spark, SF)
    explicit = S.knn_ann_expected_capture(
        spark, SF, planes=p, radius=S.KNN_ANN_MULTIPROBE
    )
    assert got == explicit
    assert 0.0 < got <= 1.0
