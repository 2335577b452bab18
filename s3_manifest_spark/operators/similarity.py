"""Similarity search over an embedding column (SURVEY.md §2B).

The query-side similarity queries answer one logical ask — top-k
cosine neighbors for the stride-:data:`QUERY_STRIDE` query set — and
share ONE protocol.  A family contributes only what is its own:

==========  ======================  ==============================  ============================
family      trained model           row routing                     scorer
==========  ======================  ==============================  ============================
``exact``   —                       none                            exact cosine
``lsh``     hyperplane matrix       :data:`LSH_PLANES`-bit sign     exact cosine
                                    bucket, radius-1 multi-probe
``ivf``     :func:`_ivf_centroids`  nearest centroid cell,          exact cosine
                                    :data:`IVF_NPROBE` cells probed
``pq``      :func:`_pq_codebooks`   none                            PQ ADC, then exact refine
``ivf_pq``  both                    nearest centroid cell           PQ ADC, then exact refine
==========  ======================  ==============================  ============================

Everything else exists once:

- **Query side** (:func:`_query_state`): the query set is normalized,
  routed to its probe buckets/cells and (ADC families) turned into
  lookup tables, then broadcast ONCE per session — the broadcast lives
  in the session model cache and ``registry.clear_model_cache``
  destroys it.
- **Scan** (:func:`_scan`): one ``mapInPandas`` corpus pass keeps a
  partial top-``keep`` per query and Arrow batch under (score desc,
  id asc), then ONE window merge (:func:`_merge`) — sound because
  every global top-``keep`` member is a top-``keep`` member of its
  own batch.  The corpus is never shuffled.
- **Refine** (:func:`_refine`): the ADC families re-score their
  global top-:data:`PQ_REFINE` candidates exactly.
- **Membership** (:func:`_ann_membership`): per exact top-k member,
  ``should_find`` = the member routes to a probed bucket/cell and, for
  ADC families, its ADC rank is below :data:`PQ_REFINE` — recomputed
  from the trained models, independent of the scan under test.
- **Certificate** (:func:`family_certificate`): one body serves the four
  registered certificates (``similarity_ann_lsh``, ``similarity_ivf``,
  ``similarity_pq``, ``similarity_ivf_pq``); ``similarity_topk`` is
  the ``exact`` family's neighbor relation itself.

``broken=True`` is each family's deliberate test-only failure mode
(LSH: queries hashed with shifted planes; IVF: farthest cells probed;
PQ / IVF-PQ: negated lookup tables) — the certificate must falsify
under it.

Scoring numerics: cosine scores are float64 BLAS products rounded to
6 decimals before the top-k ordering.  BLAS summation order is NOT the
left-fold order DuckDB's ``list_dot_product`` uses, so the two sides
can differ in the last ulp; the 6-decimal rounding makes the
exact-hash oracles correct unless a true cosine lands within ~1e-16 of
a rounding boundary AND the k-th/k+1-th candidates straddle it —
vanishingly unlikely, but probabilistic, not guaranteed (it has held
for every fixture vintage so far).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register, session_model_cache
from s3_manifest_spark.sources.tables import load_table, parquet_row_count

TOP_K = 5
#: every 100th vector is a query point — deterministic, sf-independent
QUERY_STRIDE = 100
#: hard cap on the driver-collected query set: the stride alone grows
#: as N/100 of the corpus, which is unbounded driver/broadcast memory
#: at 100 TB.  Lowest vec_ids win (sort + limit BEFORE the collect),
#: so selection is deterministic at every scale and the bound is
#: MAX_QUERIES x dim float64 (~2 MB at dim 64).  A larger query load
#: should arrive as its own DataFrame and run in MAX_QUERIES batches.
MAX_QUERIES = 4096
LSH_PLANES = 6
LSH_MULTIPROBE = 1  # probe buckets within this signature Hamming radius
#: Seed for the ANN-LSH hyperplanes (distinct from the dedup module's).
LSH_SEED = 0xA11_5EED
#: the LSH broken mode hashes queries with planes this far off the seed
LSH_BROKEN_SEED_OFFSET = 17

IVF_K = 8            # coarse centroids
IVF_NPROBE = 2       # cells probed per query
IVF_TRAIN_STRIDE = 2  # 1-in-N deterministic sample for quantizer training
IVF_LLOYD_STEPS = 2

PQ_M = 8             # subspaces (dim 64 -> 8 dims each)
PQ_K = 16            # centroids per subspace -> 1 byte/code, 8 B/vector
PQ_TRAIN_STRIDE = 2  # deterministic 1-in-N training sample (as IVF)
PQ_LLOYD_STEPS = 4   # per-subspace k-means rounds
PQ_REFINE = 32       # ADC candidates kept per query for exact re-scoring


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _batch_vectors(b):
    """(ids, raw float64 vectors, unit-normalized vectors) of one
    Arrow batch (or any pandas frame with vec_id/embedding)."""
    import numpy as np

    ids = b["vec_id"].to_numpy(dtype="int64")
    e = np.stack(b["embedding"].to_numpy()).astype("float64")
    return ids, e, e / np.linalg.norm(e, axis=1, keepdims=True)


def _query_pdf(v):
    """Driver-side query set with the documented hard bound: every
    QUERY_STRIDE-th corpus vector, capped at MAX_QUERIES rows."""
    return (
        v.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .orderBy("vec_id")
        .limit(MAX_QUERIES)
        .toPandas()
    )


def _query_pdf_cached(spark: SparkSession, sf_dir: str, v):
    """Session-cached :func:`_query_pdf` (r17): the query set is
    deterministic per corpus (stride + cap + lowest-ids-win) and
    bounded (MAX_QUERIES × dim float64, ~2 MB), yet every warm serving
    call was re-paying a full scan + sort + limit + collect JOB just
    to re-derive it — at fixture scale that job floor is most of the
    serving wall (guide §1.2: remove the pass outright).  Exactly the
    `_knn_query_pack_cached` lifecycle: index-adjacent session state,
    built once, priced in bench cold_sec, dropped by
    ``registry.clear_model_cache`` (a plain pandas frame — no Spark
    resources to free)."""
    mc = session_model_cache(spark)
    key = ("query_pdf", sf_dir)
    cached = mc.get(key)
    if cached is not None:
        return cached
    pdf = _query_pdf(v)
    mc[key] = pdf
    return pdf


def _lsh_plane_matrix(planes: int, dim: int, seed_offset: int = 0):
    """The canonical Gaussian hyperplane matrix — the SINGLE
    construction point for every signature derivation (executor
    kernels and the driver-side query-probe derivation in
    :class:`_Buckets`), so the two sides can never
    silently drift (VERDICT r17 item 6: a seed/shape mismatch between
    them would destroy recall with no loud failure; the broken-mode
    certificate test covers seed skew, this removes the hazard at the
    source)."""
    import numpy as np

    return np.random.RandomState(LSH_SEED + seed_offset).standard_normal(
        (planes, dim)
    )


def _ann_signatures(
    v: DataFrame,
    seed_offset: int = 0,
    with_embedding: bool = True,
    planes: int = LSH_PLANES,
) -> DataFrame:
    """``(vec_id, sig[, embedding])``: ``planes``-bit sign-pattern
    bucket id per vector via ONE seeded BLAS matmul per Arrow batch
    (``E @ planesᵀ`` against a RandomState(LSH_SEED+offset) Gaussian
    plane matrix — identical on every executor).  Collision
    probability rises with cosine similarity (random-hyperplane LSH).

    Narrow (no shuffle) — this replaced a built-in zip_with/aggregate
    higher-order-function fold, which is JVM-side but INTERPRETED:
    per-row per-plane lambda evaluation over dim-64 arrays cost more
    than the Arrow hop + vectorized matmul (measured ~1.1 s → ~0.5 s
    for the neighbors query at sf0.1).  Same construction as the dedup
    module's ``_lsh_band_rows`` with one band.

    ``seed_offset`` shifts the plane matrix (the kNN-graph ANN hashes
    with its own offset).  ``planes`` defaults to the query-ANN's
    :data:`LSH_PLANES`; the corpus-scale kNN-graph path passes its
    own corpus-size-adaptive count (:func:`_knn_ann_planes`)."""
    import numpy as np
    import pandas as pd

    r = planes

    def kernel(batches):
        planes = None
        powers = 1 << np.arange(r, dtype=np.int64)
        for b in batches:
            ids = b["vec_id"].to_numpy(dtype="int64")
            e = np.stack(b["embedding"].to_numpy()).astype("float64")
            if planes is None:
                planes = _lsh_plane_matrix(r, e.shape[1], seed_offset)
            sig = (((e @ planes.T) > 0) * powers).sum(axis=1)
            out = {"vec_id": ids, "sig": sig.astype("int64")}
            if with_embedding:
                out["embedding"] = b["embedding"].to_numpy()
            yield pd.DataFrame(out)

    schema = "vec_id long, sig long" + (
        ", embedding array<float>" if with_embedding else ""
    )
    return v.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Family models: distributed Lloyd training and row routing
# ---------------------------------------------------------------------------


def _lloyd(spark, sf_dir, key, groups, k, stride, steps, assign):
    """Distributed Lloyd training shared by the IVF quantizer and the
    PQ codebooks, session-cached under ``(key, sf_dir)``: an ANN index
    is built once and queried many times — that lifecycle, not
    per-query retraining, is the system being modeled (FAISS trains
    once, on a corpus sample, because the quantizer only needs the
    density shape).

    The unit-normalized vectors of a deterministic 1-in-``stride``
    sample split into ``groups`` equal subspaces of ``k`` cells each.
    The seed round assigns cell = vec_id % k in every subspace; later
    rounds call ``assign(en, model)`` → (rows × groups) cells.  Each
    round is the treeAggregate shape: every Arrow batch emits ONE
    partial row per occupied (subspace, cell) — (count, component sum)
    — so the driver combines at most groups·k·partitions short rows
    and never sees a sample vector (driver memory O(k·d)).  Empty cells
    keep their previous centroid.  Returns (groups, k, dim/groups)
    float64 — squeezed to (k, dim) for one group."""
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.registry import track_persist

    mc = session_model_cache(spark)
    cached = mc.get((key, sf_dir))
    if cached is not None:
        return cached
    tr = track_persist(
        _embeddings(spark, sf_dir).filter(F.col("vec_id") % stride == 0)
    )
    model = None  # (groups, k, dsub); None -> seed round

    def partials(cur):
        def gen(batches):
            for b in batches:
                ids, _, en = _batch_vectors(b)
                if en.shape[1] % groups:
                    raise ValueError(
                        f"embedding dim {en.shape[1]} not divisible by "
                        f"{groups} subspaces"
                    )
                dsub = en.shape[1] // groups
                if cur is None:
                    cells = np.repeat((ids % k)[:, None], groups, axis=1)
                else:
                    cells = assign(en, cur)
                out_g, out_c, out_n, out_s = [], [], [], []
                for g in range(groups):
                    xg = en[:, g * dsub : (g + 1) * dsub]
                    # one pass over the block: bincount for sizes,
                    # add.at for per-cell component sums
                    counts = np.bincount(cells[:, g], minlength=k)
                    sums = np.zeros((k, dsub))
                    np.add.at(sums, cells[:, g], xg)
                    uniq = np.nonzero(counts)[0]
                    out_g.append(np.full(len(uniq), g))
                    out_c.append(uniq)
                    out_n.append(counts[uniq])
                    out_s.extend(sums[c].tolist() for c in uniq)
                yield pd.DataFrame(
                    {
                        "g": np.concatenate(out_g).astype("int32"),
                        "cell": np.concatenate(out_c).astype("int32"),
                        "n": np.concatenate(out_n).astype("int64"),
                        "s": out_s,
                    }
                )

        return gen

    for _ in range(steps):
        rows = tr.mapInPandas(
            partials(model), schema="g int, cell int, n long, s array<double>"
        ).collect()  # <= groups * k * partitions short rows
        dsub = len(rows[0]["s"])
        sums = np.zeros((groups, k, dsub))
        counts = np.zeros((groups, k))
        for r in rows:
            sums[r["g"], r["cell"]] += np.asarray(r["s"])
            counts[r["g"], r["cell"]] += r["n"]
        new = np.zeros((groups, k, dsub)) if model is None else model.copy()
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz][:, None]  # empty cells keep previous
        model = new
    out = model[0] if groups == 1 else model
    mc[(key, sf_dir)] = out
    return out


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """The trained IVF coarse quantizer (:data:`IVF_K` × dim float64):
    :func:`_lloyd` with one group, cells assigned by cosine argmax —
    ONE quantizer model shared by the IVF and IVF-PQ families."""
    return _lloyd(
        spark, sf_dir, "ivf", 1, IVF_K, IVF_TRAIN_STRIDE, IVF_LLOYD_STEPS,
        lambda en, model: _Cells(model[0]).route(None, en)[:, None],
    )


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Per-subspace PQ codebooks ((:data:`PQ_M`, :data:`PQ_K`, dim/M)
    float64): :func:`_lloyd` with one group per subspace, cells
    assigned by L2 argmin (:func:`_pq_encode`) — ALL subspaces learn in
    each single pass.  Everything downstream (codes, ADC ranks, the
    certificate) derives from this one cached array, so the emitted
    relation is self-consistent in any environment."""
    return _lloyd(
        spark, sf_dir, "pq", PQ_M, PQ_K, PQ_TRAIN_STRIDE, PQ_LLOYD_STEPS,
        _pq_encode,
    )


def _pq_encode(en, books):
    """codes[i, m] = nearest codebook cell of row i's m-th subvector
    (ties -> lowest cell).  ``en`` must already be unit-normalized."""
    import numpy as np

    dsub = books.shape[2]
    codes = np.empty((en.shape[0], books.shape[0]), dtype=np.int64)
    for m, cm in enumerate(books):
        xm = en[:, m * dsub : (m + 1) * dsub]
        # argmin ||x-c||^2 = argmin(-2 x·c + ||c||^2)
        d = -2.0 * (xm @ cm.T) + (cm * cm).sum(axis=1)
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def _pq_adc(codes, lut_q):
    """ADC score of every coded row against ONE query's LUT
    ((M, K) table): Σ_m lut[m, code_m], summed in fixed subspace order
    so the float result is independent of batching/partitioning."""
    s = lut_q[0, codes[:, 0]]
    for m in range(1, PQ_M):
        s = s + lut_q[m, codes[:, m]]
    return s


class _Buckets:
    """LSH routing: a row's bucket is its :data:`LSH_PLANES`-bit sign
    pattern under the canonical planes (collision probability rises
    with cosine similarity); a query probes its own bucket plus every
    bucket within Hamming radius :data:`LSH_MULTIPROBE` — a near
    neighbor's most likely disagreement is ONE flipped hyperplane, so
    the 1-bit-flip buckets buy most of a second table's recall for
    zero extra corpus state.  Broken mode hashes the queries with
    shifted planes, so they probe unrelated buckets."""

    def __init__(self, dim: int):
        import numpy as np

        self.planes = _lsh_plane_matrix(LSH_PLANES, dim)
        self.powers = 1 << np.arange(LSH_PLANES, dtype=np.int64)

    @classmethod
    def build(cls, spark, sf_dir, dim):
        return cls(dim)

    def route(self, e, en):
        return (((e @ self.planes.T) > 0) * self.powers).sum(axis=1)

    def probes(self, qm, qn, broken):
        import numpy as np

        planes = _lsh_plane_matrix(
            LSH_PLANES, qm.shape[1], LSH_BROKEN_SEED_OFFSET if broken else 0
        )
        sigs = (((qm @ planes.T) > 0) * self.powers).sum(axis=1)
        flips = self.powers if LSH_MULTIPROBE >= 1 else np.empty(0, np.int64)
        return [np.concatenate(([s], s ^ flips)) for s in sigs.astype("int64")]


class _Cells:
    """IVF routing: a row's cell is its nearest (cosine) centroid; a
    query probes its :data:`IVF_NPROBE` nearest cells.  Broken mode
    probes the farthest cells instead."""

    def __init__(self, cent):
        import numpy as np

        self.centn = cent / np.maximum(
            np.linalg.norm(cent, axis=1, keepdims=True), 1e-12
        )

    @classmethod
    def build(cls, spark, sf_dir, dim):
        return cls(_ivf_centroids(spark, sf_dir))

    def route(self, e, en):
        import numpy as np

        return np.argmax(en @ self.centn.T, axis=1)  # ties -> lowest

    def probes(self, qm, qn, broken):
        import numpy as np

        sign = 1.0 if broken else -1.0
        order = np.argsort(sign * (qn @ self.centn.T), kind="stable", axis=1)
        return order[:, :IVF_NPROBE]


#: family -> (router class or None, ADC scorer)
_FAMILIES = {
    "exact": (None, False),
    "lsh": (_Buckets, False),
    "ivf": (_Cells, False),
    "pq": (None, True),
    "ivf_pq": (_Cells, True),
}


# ---------------------------------------------------------------------------
# The protocol: query state, scan, merge, refine, membership, certificate
# ---------------------------------------------------------------------------


class _QueryState(NamedTuple):
    ids: object  # (Q,) int64 query vec_ids
    vecs: object  # (Q, dim) unit-normalized query vectors
    router: object  # _Buckets | _Cells | None
    probes: object  # per query: probed bucket/cell ids (None: no routing)
    books: object  # PQ codebooks (None: cosine scorer)
    lut: object  # (Q, M, K) ADC lookup tables (None: cosine scorer)


def _query_state(
    spark: SparkSession, sf_dir: str, family: str, broken: bool = False
):
    """The broadcast :class:`_QueryState` of ``family`` — SESSION
    STATE, not per-call state (ADVICE r17: a fresh broadcast per warm
    serving call accumulated never-destroyed broadcast blocks on the
    driver and executors).  Built once per (sf_dir, family, broken)
    from the session-cached query set and the family's trained models;
    destroyed by ``registry.clear_model_cache``.  ``broken`` breaks the
    scorer of ADC families (negated lookup tables rank the WORST
    candidates first) and the router of the others."""
    import numpy as np

    mc = session_model_cache(spark)
    key = (f"ann_query_{family}", sf_dir, broken)
    bc = mc.get(key)
    if bc is not None:
        return bc
    router_cls, adc = _FAMILIES[family]
    qpdf = _query_pdf_cached(spark, sf_dir, _embeddings(spark, sf_dir))
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    router = probes = books = lut = None
    if router_cls is not None:
        router = router_cls.build(spark, sf_dir, qm.shape[1])
        probes = router.probes(qm, qn, broken and not adc)
    if adc:
        books = _pq_codebooks(spark, sf_dir)
        dsub = books.shape[2]
        # lut[q, m, c] = q_m · books[m, c]
        lut = np.stack(
            [qn[:, m * dsub : (m + 1) * dsub] @ books[m].T for m in range(PQ_M)],
            axis=1,
        )
        if broken:
            lut = -lut
    bc = spark.sparkContext.broadcast(
        _QueryState(qids, qn, router, probes, books, lut)
    )
    mc[key] = bc
    return bc


def _scan(v: DataFrame, bc, keep: int) -> DataFrame:
    """ONE narrow corpus pass: each Arrow batch routes its rows,
    scores every query against the rows routed to its probes (exact
    cosine: one BLAS ``block @ queriesᵀ``; ADC: one encode + table
    lookups), and emits its local top-``keep`` per query under (score
    desc, neighbor_id asc).  Scoring cost is probed occupancy, and no
    shuffle touches the corpus."""
    import numpy as np
    import pandas as pd

    score_col = "adc" if bc.value.lut is not None else "cos_sim"

    def score(batches):
        st = bc.value
        for b in batches:
            if not len(b):
                continue
            ids, e, en = _batch_vectors(b)
            routed = None if st.router is None else st.router.route(e, en)
            if st.lut is None:
                sims = np.round(en @ st.vecs.T, 6)  # (batch, q)
            else:
                codes = _pq_encode(en, st.books)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(st.ids):
                mask = ids != qid  # exclude self-match
                if routed is not None:
                    mask &= np.isin(routed, st.probes[j])
                if not mask.any():
                    continue
                cand = ids[mask]
                if st.lut is None:
                    s = sims[mask, j]
                else:
                    s = _pq_adc(codes[mask], st.lut[j])
                order = np.lexsort((cand, -s))[:keep]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(cand[order])
                out_s.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        score_col: np.concatenate(out_s),
                    }
                )

    return v.mapInPandas(
        score, schema=f"query_id long, neighbor_id long, {score_col} double"
    )


def _merge(scored: DataFrame, keep: int) -> DataFrame:
    """Global top-``keep`` per query from per-batch partials: a window
    over ≤ keep·batches candidate rows per query, never N."""
    score = "adc" if "adc" in scored.columns else "cos_sim"
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= keep)
        .drop("rn")
    )


def _refine(v: DataFrame, bc, cands: DataFrame) -> DataFrame:
    """Exact re-scoring of the ADC candidates: corpus rows joined to the
    BROADCAST candidate list (candidate-bounded, never a corpus
    shuffle), exact rounded cosine per (query, candidate), final
    top-:data:`TOP_K` per query."""
    import numpy as np
    import pandas as pd

    src = v.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(cands.select("query_id", "neighbor_id")), "neighbor_id"
    )

    def refine(batches):
        st = bc.value
        qrow = {int(q): i for i, q in enumerate(st.ids)}
        for b in batches:
            if not len(b):
                continue
            e = np.stack(b["embedding"].to_numpy()).astype("float64")
            en = e / np.linalg.norm(e, axis=1, keepdims=True)
            qi = np.array(
                [qrow[int(q)] for q in b["query_id"].to_numpy()], dtype=np.int64
            )
            yield pd.DataFrame(
                {
                    "query_id": b["query_id"].to_numpy().astype("int64"),
                    "neighbor_id": b["neighbor_id"].to_numpy().astype("int64"),
                    "cos_sim": np.round(np.einsum("ij,ij->i", st.vecs[qi], en), 6),
                }
            )

    refined = src.mapInPandas(
        refine, schema="query_id long, neighbor_id long, cos_sim double"
    )
    return _merge(refined, TOP_K)


def ann_neighbors(
    spark: SparkSession, sf_dir: str, family: str, broken: bool = False
) -> DataFrame:
    """``(query_id, neighbor_id, cos_sim)``: the top-:data:`TOP_K`
    neighbors of ``family`` (see the module table) — scan + merge, and
    for the ADC families a top-:data:`PQ_REFINE` scan + merge followed
    by the exact refine.  ``broken`` selects the family's test-only
    broken mode."""
    v = _embeddings(spark, sf_dir)
    bc = _query_state(spark, sf_dir, family, broken)
    if _FAMILIES[family][1]:
        return _refine(v, bc, _merge(_scan(v, bc, PQ_REFINE), PQ_REFINE))
    return _merge(_scan(v, bc, TOP_K), TOP_K)


@register(
    "similarity_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round(list_dot_product(qe, e)
                   / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                   6) AS cos_sim
      FROM q JOIN v ON vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
             ) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k per query vector: the ``exact``
    family (no routing, cosine scorer) — the verification baseline of
    every ANN certificate."""
    return ann_neighbors(spark, sf_dir, "exact")


#: DuckDB twin of the certificates' exact side — the SAME scored/topk
#: construction as similarity_topk's oracle, aggregated to the k-th
#: (minimum) similarity per query.  ann_complete_ok is literal true on
#: the oracle side BY DESIGN: DuckDB cannot re-run the engine-seeded
#: ANN, so the flag's invariant arithmetic is pinned by the local
#: broken-ANN test
#: tests/test_similarity.py::test_certificate_falsifies_broken_ann,
#: and the hash check proves the flag ACTUALLY came out true on the
#: Spark side (plus full query coverage and an independently
#: recomputed exact_kth_sim per query).
_ANN_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {TOP_K}
)
SELECT query_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY query_id
"""


def _membership_cached(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    builder,
    planes=None,
    localize: bool = True,
):
    """Canonical probe-membership relation for one ANN family —
    per (query_id, exact-member): must candidate generation surface
    this member?  Derived ONLY from the trained index model + the
    (session-cached) exact relation, i.e. it IS index state: built
    once per session alongside the quantizer it derives from,
    persisted (k·queries tiny rows), released by
    ``registry.clear_model_cache``, cold build priced in cold_sec.
    The broken-mode falsification tests grade their broken scans
    against this same canonical relation.

    ``planes`` (the hyperplane-LSH families): the membership's
    should_find promise is stated at a specific bit width, so the
    cached relations travel with their widths as scalars
    ('frames+scalars' in models.py, frames-first: (m1, m2, w1, w2))
    and a demand for an UNCACHED width rebuilds instead of grading the
    sweep against the wrong promise (ADVICE r15: after an index reload
    across a _knn_ann_planes boundary the file-derived count and the
    served index's count diverge).  Up to TWO widths live side by
    side: in the boundary-reload scenario ``knn_graph_ann`` (served
    width) and ``stream_knn_index_live`` (file-derived width)
    alternate within one bench pass, and a single-slot cache would
    rebuild-and-leak the corpus-pass relation per alternation (r16
    review)."""
    from s3_manifest_spark.registry import _release_checkpoint_blocks

    def release(f):
        # both releases — unpersist covers store-loaded frames
        # (models.py persists parquet reads), the checkpoint release
        # covers session-built LogicalRDDs; each a no-op for the other
        f.unpersist(blocking=False)
        _release_checkpoint_blocks(f)

    mc = session_model_cache(spark)
    key = (f"ann_membership_{kind}", sf_dir)
    cached = mc.get(key)
    frames: list = []
    widths: list[int] = []
    if cached is not None:
        frames = [v for v in cached if isinstance(v, DataFrame)]
        widths = [int(v) for v in cached if not isinstance(v, DataFrame)]
        if planes is None:
            return frames[0]
        if len(widths) == len(frames) and int(planes) in widths:
            return frames[widths.index(int(planes))]
        if len(widths) != len(frames):
            # legacy planes-less store (widths unknown): evict it
            for f in frames:
                release(f)
            frames, widths = [], []
    # DRIVER-LOCAL relation, not a persisted frame (r17), for the
    # QUERY-BOUNDED kinds only: their membership is k·queries rows by
    # construction (derived from the exact relation), and a
    # LocalRelation broadcasts into the certificate joins driver-side
    # — no InMemoryTableScan job per call.  CORPUS-WIDE kinds
    # ('knn': every vector is a query, the relation is N·k rows) pass
    # ``localize=False`` (ADVICE r17): an unbounded driver collect is
    # exactly what the 100 TB design forbids, and the resulting
    # single-partition LocalRelation sits on the STREAMED side of the
    # broadcast_found=False certificate join — the configuration the
    # _knn_exact_cached A/B measured 0.15-0.2 s slower than a
    # distributed checkpoint.  Those keep the r16 distributed path
    # (eager localCheckpoint: blocks distributed, released through the
    # LogicalRDD handle, never CacheManager-plan-matched).
    built = builder()
    if localize:
        m = spark.createDataFrame(built.toPandas(), schema=built.schema)
    else:
        m = built.localCheckpoint(eager=True)
    if planes is None:
        mc[key] = (m,)
        return m
    frames.append(m)
    widths.append(int(planes))
    if len(frames) > 2:  # bounded: evict the oldest width
        release(frames.pop(0))
        widths.pop(0)
    mc[key] = tuple(frames) + tuple(widths)
    return m


def _exact_topk_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized brute-force exact top-k relation, shared by
    all four query-ANN certificates: each certificate needs the SAME
    exact relation, so it is scored once per session and served from
    the model cache (k·queries tiny rows; released by
    ``registry.clear_model_cache``, cold build priced in bench
    cold_sec, persisted/reloaded by models.py like the other session
    artifacts)."""
    mc = session_model_cache(spark)
    key = ("ann_exact", sf_dir)
    cached = mc.get(key)
    if cached is not None:
        return cached[0]
    # DRIVER-LOCAL relation, not a persisted frame (r17, the
    # _knn_exact_sampled precedent): the relation is ≤ TOP_K ×
    # MAX_QUERIES rows by construction, and a LocalRelation
    # materializes into the certificates' joins without launching the
    # per-call InMemoryTableScan job a persisted frame pays (and can
    # never be CacheManager-served back to a fresh similarity_topk
    # plan — the r12/r14 plan-match rule for free).
    exact = spark.createDataFrame(
        similarity_topk(spark, sf_dir).toPandas(),
        schema="query_id long, neighbor_id long, cos_sim double",
    )
    mc[key] = (exact,)
    return exact


def _adc_ranks(spark, v, bc, qi, nids, madc):
    """Per (query index ``qi``, exact member ``nids``, member ADC
    ``madc``): the member's ADC rank — how many OTHER rows the query
    routes to its probes (self excluded) precede it under (adc desc,
    id asc).  One corpus pass; partial counts combine by SUM, so the
    rank is exact and partition-independent."""
    import numpy as np
    import pandas as pd

    bc_thr = spark.sparkContext.broadcast((qi, nids, madc))

    def kernel(batches):
        st = bc.value
        tq, tn, tm = bc_thr.value
        # thresholds grouped by query: each query's ADC is computed
        # ONCE per batch, then compared against its ≤ k thresholds
        by_query: dict[int, list] = {}
        for i, j in enumerate(tq):
            by_query.setdefault(int(j), []).append(i)
        for b in batches:
            if not len(b):
                continue
            ids, e, en = _batch_vectors(b)
            routed = None if st.router is None else st.router.route(e, en)
            codes = _pq_encode(en, st.books)
            cnts = np.empty(len(tq), dtype=np.int64)
            for j, idxs in by_query.items():
                adc = _pq_adc(codes, st.lut[j])
                cand = ids != st.ids[j]
                if routed is not None:
                    cand &= np.isin(routed, st.probes[j])
                for i in idxs:
                    better = (adc > tm[i]) | ((adc == tm[i]) & (ids < tn[i]))
                    cnts[i] = int((better & cand & (ids != tn[i])).sum())
            yield pd.DataFrame({"i": np.arange(len(tq)), "cnt": cnts})

    ranks = (
        v.mapInPandas(kernel, schema="i long, cnt long")
        .groupBy("i")
        .agg(F.sum("cnt").alias("rank"))
        .toPandas()
    )
    bc_thr.destroy()
    out = np.zeros(len(qi), dtype=np.int64)
    out[ranks["i"].to_numpy()] = ranks["rank"].to_numpy()
    return out


def _ann_membership(
    spark: SparkSession, sf_dir: str, family: str, exact: DataFrame
) -> DataFrame:
    """``(query_id, neighbor_id, cos_sim, should_find)`` per exact
    top-k member of ``family``'s CANONICAL (never broken) query state:
    should_find = the member routes to one of the query's probed
    buckets/cells and, for ADC families, its ADC rank
    (:func:`_adc_ranks`) is below :data:`PQ_REFINE`.  Member routing
    and codes are recomputed from the trained models on the ≤ k·queries
    member rows (broadcast-semi-filtered corpus, driver-collected),
    independent of the scan under test.  The relation carries the
    exact member's ``cos_sim``, so the certificate needs no exact join."""
    import numpy as np

    bc = _query_state(spark, sf_dir, family)
    st = bc.value
    v = _embeddings(spark, sf_dir)
    pairs = exact.toPandas()
    members = v.join(
        F.broadcast(exact.select(F.col("neighbor_id").alias("vec_id")).distinct()),
        "vec_id",
    ).toPandas()
    should = np.ones(len(pairs), dtype=bool)
    if len(members):
        mids, e, en = _batch_vectors(members)
        row = {int(i): r for r, i in enumerate(mids)}
        qrow = {int(q): j for j, q in enumerate(st.ids)}
        mi = np.array([row[int(n)] for n in pairs["neighbor_id"]], dtype=np.int64)
        qi = np.array([qrow[int(q)] for q in pairs["query_id"]], dtype=np.int64)
        if st.router is not None:
            keys = st.router.route(e, en)
            should &= np.array(
                [keys[m] in st.probes[j] for m, j in zip(mi, qi)], dtype=bool
            )
        if st.lut is not None:
            codes = _pq_encode(en, st.books)
            madc = st.lut[qi, 0, codes[mi, 0]]
            for m in range(1, PQ_M):
                madc = madc + st.lut[qi, m, codes[mi, m]]
            should &= (
                _adc_ranks(spark, v, bc, qi, pairs["neighbor_id"].to_numpy(), madc)
                < PQ_REFINE
            )
    pairs["should_find"] = should
    return spark.createDataFrame(
        pairs[["query_id", "neighbor_id", "cos_sim", "should_find"]],
        schema="query_id long, neighbor_id long, cos_sim double, should_find boolean",
    )


def _ann_certificate(
    ann: DataFrame, membership: DataFrame, broadcast_found: bool = True
) -> DataFrame:
    """Per-query ANN COMPLETENESS certificate (the in-bound-flag
    pattern of percentile_digest, adapted to what an ANN index actually
    promises deterministically), from the ANN output ``ann`` and the
    canonical ``membership`` relation — (query_id, neighbor_id,
    cos_sim, should_find) per exact top-k member:

    - ``exact_kth_sim`` — the k-th exact cosine per query, computed by
      the engine's OWN brute-force scorer; the oracle recomputes it
      independently in SQL, so a hash match proves the exact side
      end-to-end (queries, scoring, rounding, tie order).
    - ``ann_complete_ok`` — every exact-top-k member the query's
      candidate generation PROMISES (``should_find``, recomputed from
      the canonical routing / ADC ranking) must appear in the ANN
      output.  This is deterministic — no statistical slack: a promised
      member outranks every non-member candidate under the shared
      (rounded sim desc, id asc) order, so a working ANN cannot drop
      it.  Statistical recall flags are impossible on this fixture
      (uniform-random vectors: per-query recall legitimately hits 0),
      but completeness-within-probe must hold at every scale, and the
      broken-ANN tests show the flag actually falsifies.

    Queries none of whose exact members are probed are vacuously
    complete — the flag certifies the ANN faithfully returns what its
    candidate generation promises, not that candidate generation has
    high recall on structureless data (the docstrings' analytic
    recall math covers that).

    The membership carries the exact member's cos_sim (fused at build
    time: :func:`_ann_membership`, :func:`_knn_ann_membership`), so no
    exact⋈membership join runs per call, and the ANN side is
    aggregated to ONE found-set row per query BEFORE the join (guide
    §2.3 — aggregate before you shuffle: the N·k sweep rows cross one
    exchange as N set rows; the join and the final groupBy then share
    the hash(query_id) partitioning).  ``min(cos_sim)`` over the
    member rows is the k-th exact sim, and "member missing from the
    per-query found set" is "no (query, member) row in the ANN output".

    Query-bounded certificates broadcast the found side explicitly
    (r17, guide §3.1): their ANN output is ≤ TOP_K × MAX_QUERIES rows
    by construction, but it hangs below a mapInPandas whose size the
    planner cannot estimate, so the static plan would pick a
    SortMergeJoin.  The CORPUS-WIDE certificates (knn_graph_ann,
    stream_knn_index_live — every vector is a query) pass
    ``broadcast_found=False``: there the found side carries the whole
    N·k sweep, and forcing a BroadcastExchange serializes the sweep
    through a driver collect before the join can start (interleaved
    A/B: 3.46 vs 2.58 s min-of-6) — they keep the shuffled join and let
    AQE pick the runtime strategy.
    """
    found_sets = ann.groupBy("query_id").agg(
        F.collect_set("neighbor_id").alias("found_ids")
    )
    if broadcast_found:
        found_sets = F.broadcast(found_sets)
    return (
        membership.select("query_id", "neighbor_id", "cos_sim", "should_find")
        .join(found_sets, ["query_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.min("cos_sim"), 6).alias("exact_kth_sim"),
            F.min(
                F.when(
                    F.coalesce(F.col("should_find"), F.lit(False))
                    & ~F.coalesce(
                        F.array_contains(F.col("found_ids"), F.col("neighbor_id")),
                        F.lit(False),
                    ),
                    F.lit(False),
                ).otherwise(F.lit(True))
            ).alias("ann_complete_ok"),
        )
        .select("query_id", "exact_kth_sim", "ann_complete_ok")
    )


def family_certificate(
    spark: SparkSession, sf_dir: str, family: str, broken: bool = False
) -> DataFrame:
    """The completeness certificate of one query-ANN family (see
    :func:`_ann_certificate` for what each column certifies): the
    family's neighbor relation graded against its session-cached
    canonical membership.  ``broken=True`` grades the family's broken
    mode against the SAME canonical membership, which must falsify."""
    exact = _exact_topk_cached(spark, sf_dir)
    membership = _membership_cached(
        spark, sf_dir, family,
        lambda: _ann_membership(spark, sf_dir, family, exact),
    )
    if "cos_sim" not in membership.columns:
        # a model store saved before memberships carried the exact
        # member's cos_sim: fuse it in once and re-cache
        fused = exact.join(membership, ["query_id", "neighbor_id"], "left")
        mc = session_model_cache(spark)
        key = (f"ann_membership_{family}", sf_dir)
        mc.pop(key)[0].unpersist(blocking=False)
        membership = spark.createDataFrame(fused.toPandas(), schema=fused.schema)
        mc[key] = (membership,)
    return _ann_certificate(
        ann_neighbors(spark, sf_dir, family, broken), membership
    )


def _register_certificate(name: str, family: str) -> None:
    def certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
        return family_certificate(spark, sf_dir, family)

    certificate.__name__ = name
    certificate.__doc__ = (
        f"Completeness certificate of the {family!r} query-ANN family "
        "(see the module table and :func:`family_certificate`)."
    )
    register(name, oracle=_ANN_CERT_SQL)(certificate)


for _name, _family in (
    ("similarity_ann_lsh", "lsh"),
    ("similarity_ivf", "ivf"),
    ("similarity_pq", "pq"),
    ("similarity_ivf_pq", "ivf_pq"),
):
    _register_certificate(_name, _family)



# ---------------------------------------------------------------------------
# Int8 embedding quantization (the embedding STORAGE story at 100 TB)
# ---------------------------------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    c AS (
      SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INT))
               AS codes
      FROM q WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 12) AS scale,
           CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT)
             AS n_saturated,
           round(list_sum(list_transform(range(1, len(e) + 1),
                                         i -> pow(e[i] - codes[i] * scale, 2)))
                 / len(e), 12) AS mse
    FROM c
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization accounting:
    ``(vec_id, scale, n_saturated, mse)``.

    The storage-side counterpart to ``similarity_pq``: int8 codes keep
    the embedding column 4× smaller than float32 (64 B vs 256 B at
    dim 64) while staying directly dot-product-able (int8 GEMM), which
    is how production vector stores hold billion-scale corpora in
    executor memory.  The operator emits the quantization audit a
    pipeline runs before committing to the format: per-vector scale
    (max-abs symmetric), saturation count, and exact reconstruction
    MSE.

    One shuffle-free codegen projection — array higher-order functions
    only, no Python, no joins.  Determinism: scale is one double
    division of a float32 max (bit-identical both engines); codes use
    ``floor(x/scale + 0.5)`` (half-up in BOTH engines — SQL ``round``
    differs between them at .5 for negatives, ``floor`` does not);
    mse rounds at 12 dp, absorbing fold-order noise (~1e-19).
    Zero-vectors (scale = 0) are excluded on both sides rather than
    emitting NaN codes.
    """
    v = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
    )
    q = v.selectExpr(
        "vec_id",
        "e",
        "array_max(transform(e, x -> abs(x))) / 127.0 AS scale",
    ).filter("scale > 0")
    c = q.selectExpr(
        "vec_id",
        "e",
        "scale",
        "transform(e, x -> CAST(floor(x / scale + 0.5) AS INT)) AS codes",
    )
    return c.selectExpr(
        "vec_id",
        "round(scale, 12) AS scale",
        "CAST(size(filter(codes, c -> abs(c) = 127)) AS BIGINT)"
        " AS n_saturated",
        "round(aggregate(zip_with(e, codes, (x, c) -> pow(x - c * scale, 2)),"
        " CAST(0 AS DOUBLE), (acc, d) -> acc + d) / size(e), 12) AS mse",
    )


# ---------------------------------------------------------------------------
# kNN classification (r10): label propagation over the exact relation
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {TOP_K}
),
votes AS (
  SELECT t.query_id, CAST(l.label AS BIGINT) AS label,
         CAST(count(*) AS BIGINT) AS votes
  FROM topk t JOIN embeddings l ON l.vec_id = t.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, label AS predicted_label, votes
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT p.query_id, p.predicted_label, p.votes,
       CAST(e.label AS BIGINT) AS true_label,
       p.predicted_label = CAST(e.label AS BIGINT) AS correct
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
"""


@register("knn_classify", oracle=_KNN_ORACLE)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label vote over the exact cosine relation —
    the weak-supervision / label-propagation primitive: each query
    vector takes the majority label of its :data:`TOP_K` exact
    neighbors (tie-break: vote count desc, label asc — deterministic
    in both engines), emitted next to its true label.

    Rides the session-cached exact relation the ANN certificates
    share, so the warm plan is two tiny joins + a vote rollup.  Join
    direction is the 100 TB-correct one: the k·queries-row exact
    relation BROADCASTS into the (corpus-sized) label relation —
    labels never broadcast and never shuffle wider than the vote
    keys."""
    from pyspark.sql import Window

    exact = _exact_topk_cached(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    votes = (
        labels.withColumnRenamed("vec_id", "neighbor_id")
        .join(
            F.broadcast(exact.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    pred = (
        votes.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "predicted_label",
        "votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (r11): recall of truncated-dim retrieval
# ---------------------------------------------------------------------------

#: Dimensions kept by the truncated (Matryoshka-style) retrieval path.
#: Modern embedding models are trained so a PREFIX of the vector is
#: itself a usable embedding (MRL); serving then stores/searches the
#: short prefix and refines with the tail only when needed.
MRL_DIM = 16

_MRL_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
full_scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
full_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM full_scored) WHERE rn <= {TOP_K}
),
t_scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe[1:{MRL_DIM}], e[1:{MRL_DIM}])
               / (sqrt(list_dot_product(qe[1:{MRL_DIM}], qe[1:{MRL_DIM}]))
                  * sqrt(list_dot_product(e[1:{MRL_DIM}], e[1:{MRL_DIM}]))),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
t_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM t_scored) WHERE rn <= {TOP_K}
)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT)        AS n_overlap,
       round(count(t.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
FROM full_topk f
LEFT JOIN t_topk t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


def _exact_topk_dims(spark: SparkSession, sf_dir: str, dims: int) -> DataFrame:
    """Exact cosine top-k over the FIRST ``dims`` dimensions only —
    same broadcast-query BLAS + per-batch partial top-k physical plan
    as :func:`similarity_topk` (corpus never shuffles; the window
    merges <= k·batches candidates per query)."""
    import numpy as np
    import pandas as pd

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qpdf = _query_pdf_cached(spark, sf_dir, v)
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = np.stack(qpdf["embedding"].to_numpy()).astype("float64")[:, :dims]
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qm))
    k = TOP_K

    def score(batches):
        ids_q, queries = bc.value
        d = queries.shape[1]
        for batch in batches:
            nids = batch["vec_id"].to_numpy(dtype="int64")
            e = np.stack(batch["embedding"].to_numpy()).astype("float64")[:, :d]
            e /= np.linalg.norm(e, axis=1, keepdims=True)
            sims = np.round(e @ queries.T, 6)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                keep = nids != qid
                cand_ids, cand_sims = nids[keep], sims[keep, j]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_q.append(np.full(len(order), qid))
                out_n.append(cand_ids[order])
                out_s.append(cand_sims[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    scored = v.mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register("embedding_matryoshka", oracle=_MRL_ORACLE)
def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per probe query, how many of the
    full-dimension exact top-:data:`TOP_K` cosine neighbors survive
    when retrieval uses only the first :data:`MRL_DIM` of the
    embedding's dimensions — ``(query_id, n_overlap, recall_at_k)``.

    This is the measurement a serving team makes BEFORE switching the
    ANN index to truncated vectors (4x less index memory and BLAS
    work at dim 64 -> 16): an evidence operator in the
    lsh_tuning_curve family, and fully exact on both engines (both
    neighbor sets are deterministic brute-force top-k under the
    rounded-cosine/neighbor-id order, so the oracle certifies every
    overlap count — no bound flags needed).

    Plan: the full-dim side is the session-cached exact relation the
    ANN certificates share; the truncated side is one more
    broadcast-BLAS pass over the corpus (prefix-sliced in the Arrow
    kernel — the scan still prunes to the embedding column, and the
    corpus never shuffles); the overlap is a broadcast join of two
    k·queries-row relations."""
    full = _exact_topk_cached(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    trunc = _exact_topk_dims(spark, sf_dir, MRL_DIM).select(
        "query_id", F.col("neighbor_id").alias("t_neighbor")
    )
    hit = full.join(
        F.broadcast(trunc),
        (full["query_id"] == trunc["query_id"])
        & (full["neighbor_id"] == trunc["t_neighbor"]),
        "left",
    ).select(full["query_id"].alias("qid"), "t_neighbor")
    return hit.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("t_neighbor").alias("n_overlap"),
        F.round(F.count("t_neighbor") * 1.0 / TOP_K, 6).alias(
            "recall_at_k"
        ),
    )


#: kNN-graph fan-out (neighbors kept per corpus vector).
KNN_GRAPH_K = 5
#: corpus block count for the kNN-graph block sweep (see
#: dedup.EMBED_BLOCKS for the sizing rule: ~64-256 MB per block at
#: real scale, i.e. B ~= N*dim*8 / 1e8 — far above 8 at 100 TB).
KNN_BLOCKS = 8


def _pack_blocks(v: DataFrame, key) -> DataFrame:
    """Pack ``(vec_id, embedding)`` rows into ``(blk, ids, mat)`` block
    rows keyed by ``key`` (a Column) — dedup_embedding's packed-matrix
    layout (dedup.py:430), shared by the exact block sweep and the
    LSH-bucketed candidate sweep.  ``sort_array`` pins member order so
    the packed matrix is deterministic under any shuffle schedule."""
    return (
        v.groupBy(key.alias("blk"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("rs")
        )
        .select(
            "blk",
            F.expr("transform(rs, r -> r.vec_id)").alias("ids"),
            F.expr("flatten(transform(rs, r -> r.embedding))").alias("mat"),
        )
    )


def _block_pair_topk(block_pairs: DataFrame, k: int) -> DataFrame:
    """Per-pair BLAS scorer + global merge shared by :func:`knn_graph`
    (all B² ordered block pairs) and :func:`knn_graph_ann_neighbors`
    (LSH candidate block pairs): each ``(ids_a, mat_a, ids_b, mat_b)``
    row runs one ``blockA @ blockBᵀ`` keeping only each A-row's local
    top-``k`` against that B block under the FINAL order (rounded
    cosine desc, neighbor_id asc) — sound because a global top-k
    member is a top-k member of every B-block slice it appears in.
    The merge window then ranks ≤ k·(pairs touching the vector)
    candidates per vector, never N."""
    import numpy as np
    import pandas as pd

    def unpack(ids, mat):
        i = np.asarray(list(ids), dtype="int64")
        m = np.asarray(list(mat), dtype="float64").reshape(len(i), -1)
        # zero-norm guard (ADVICE r13): a zero vector must score 0, not
        # NaN-poison every ranking it appears in (same clamp as centn).
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return i, m

    def score(batches):
        for batch in batches:
            # zip over the raw column arrays, not iterrows: the
            # row-materialization overhead (~100 us/row) dominates at
            # production pair counts (the adaptive-plane sweep emits
            # ~N/occ * (1+planes) pair rows).
            for raw_ia, raw_ma, raw_ib, raw_mb in zip(
                batch["ids_a"].to_numpy(),
                batch["mat_a"].to_numpy(),
                batch["ids_b"].to_numpy(),
                batch["mat_b"].to_numpy(),
            ):
                ia, ma = unpack(raw_ia, raw_ma)
                ib, mb = unpack(raw_ib, raw_mb)
                sims = np.round(ma @ mb.T, 6)  # (|A|, |B|)
                # Vectorized exact per-row top-k (r14 — replaced a
                # per-A-row Python lexsort loop, the wall of the 10x
                # sweep): packing sorts ids ASCENDING, so ONE stable
                # argsort of -sims along axis 1 yields exactly the
                # final (rounded sim desc, neighbor_id asc) order per
                # row.  Self-matches are masked by ID EQUALITY to
                # -inf, which sorts last and is dropped by the finite
                # filter: for corpus-partition sweeps (A and B are the
                # same bucket/block — each vector lives in exactly
                # one) this is precisely the old diagonal mask; for
                # query-side-restricted sweeps (the sampled
                # certificate packs only the query vectors, so A ⊂ B)
                # the self cell sits off-diagonal.  O(|A||B|) int64
                # compares — 64x cheaper than the matmul next to it.
                sims[ia[:, None] == ib[None, :]] = -np.inf
                kk = min(k, sims.shape[1])
                order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                top = np.take_along_axis(sims, order, axis=1)
                valid = np.isfinite(top).ravel()
                if not valid.any():
                    continue
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ia, kk)[valid],
                        "neighbor_id": ib[order.ravel()[valid]],
                        "cos_sim": top.ravel()[valid],
                    }
                )

    cand = block_pairs.mapInPandas(
        score, schema="vec_id long, neighbor_id long, cos_sim double"
    )
    return _merge_topk(cand, k)


def _merge_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global top-``k`` merge over per-block candidate rows — the
    shared tail of every blocked kNN sweep: rank ≤ k·(blocks touching
    the vector) candidates per vector under the final (rounded sim
    desc, neighbor_id asc) order, never N."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "knn_graph",
    # greatest(..., 1e-12) mirrors the Spark scorer's zero-norm clamp
    # (_block_pair_topk): a zero vector must score cos 0 on BOTH
    # engines, not divide-by-zero on the oracle side (ADVICE r14).
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e)
                   / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                      * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
                   6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
             ) AS rn
      FROM scored
    ) WHERE rn <= {KNN_GRAPH_K}
    """,
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor graph over the whole corpus: every
    vector's top-:data:`KNN_GRAPH_K` cosine neighbors — the relation
    SemDeDup-style clustering, kNN-graph community detection, and
    graph-based ANN indexes are built from.

    Physical strategy — DISTRIBUTED blocked self-join, no driver
    collect (``similarity_topk`` broadcasts its bounded query set;
    here every corpus vector is a query, so broadcasting is not an
    option): the corpus is hashed into :data:`KNN_BLOCKS` packed
    block rows (id array + flattened matrix — dedup_embedding's
    packing, dedup.py:430), the block relation is cross-joined with
    itself into ALL B^2 ordered block pairs (kNN needs both
    orientations, unlike the dedup sweep's upper triangle), and each
    pair runs one BLAS ``blockA @ blockB^T`` keeping only each
    A-row's local top-k against that B block under the FINAL order
    (rounded cosine desc, neighbor_id asc) — sound because a global
    top-k member is a top-k member of every B-block slice it appears
    in.  The merge window then ranks <= k*B candidates per vector,
    never N.

    Scale accounting: flops are the unavoidable O(N^2 d) of an exact
    kNN graph, spread over B^2 independent tasks; shuffle volume is
    one corpus pass into B packed rows plus B*(B+1) block copies out
    of the cross join, then k*B candidate rows per vector into the
    merge exchange.  At 100 TB the exact sweep is the CERTIFIED
    BASELINE; the production path (:func:`knn_graph_ann_neighbors`,
    certified by ``knn_graph_ann``) swaps the B^2 pair relation for
    LSH candidate block pairs feeding this same per-pair scorer and
    merge — identical output contract, candidate-bounded work.
    """
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    packed = _pack_blocks(
        v, F.pmod(F.xxhash64("vec_id"), F.lit(KNN_BLOCKS))
    )
    block_pairs = (
        packed.alias("x")
        .crossJoin(packed.alias("y"))
        .select(
            F.col("x.ids").alias("ids_a"),
            F.col("x.mat").alias("mat_a"),
            F.col("y.ids").alias("ids_b"),
            F.col("y.mat").alias("mat_b"),
        )
    )
    return _block_pair_topk(block_pairs, KNN_GRAPH_K)


# ---------------------------------------------------------------------------
# Production kNN-graph path (VERDICT r13 item 1): LSH candidate block
# pairs feeding knn_graph's per-pair BLAS scorer — the sub-quadratic
# sweep a 100 TB corpus actually runs, certified against the exact
# baseline by the registered ``knn_graph_ann`` completeness query.
# ---------------------------------------------------------------------------

#: target expected bucket occupancy for the corpus-adaptive plane
#: count: planes ≈ log2(N / OCC) keeps per-bucket membership roughly
#: constant as the corpus grows, which is what makes the candidate
#: sweep ~O(N·occ·planes·d) instead of O(N²d) — bucket count scales
#: WITH the corpus (FAISS sizes nlist ~ sqrt(N) for the same reason;
#: LSH sizes bits ~ log N).
KNN_ANN_TARGET_OCC = 32
#: plane-count clamp: ≥4 keeps the sweep sub-all-pairs even on tiny
#: fixtures; ≤24 bounds the probe fan-out (1+planes block copies).
KNN_ANN_MIN_PLANES = 4
KNN_ANN_MAX_PLANES = 24
#: probe radius in signature Hamming distance: each vector's block is
#: scored against its own bucket plus every 1-bit-flip bucket — the
#: multi-probe trick (a near neighbor's most likely disagreement is
#: ONE flipped hyperplane), same as similarity_ann_lsh's query side.
KNN_ANN_MULTIPROBE = 1
#: distinct seed stream from the query-ANN planes so the two indexes
#: never share hyperplanes (and the falsification tests stay
#: independent).
KNN_ANN_SEED_OFFSET = 7
#: expected-size cap on packed sub-block membership.  The adaptive
#: plane count holds EXPECTED occupancy at KNN_ANN_TARGET_OCC, but
#: real corpora cluster — a hot direction can put millions of vectors
#: in one bucket, and an uncapped packed row is occ×dim×8 bytes on a
#: single task (the OOM shape).  Buckets past the cap split into
#: ceil(occ/cap) salted sub-blocks (secondary hash, so sub-block size
#: is ~cap in expectation with binomial spread); the probe join pairs
#: every sub-block of a probed bucket automatically because all
#: sub-blocks keep the BUCKET as their join key — the candidate set,
#: and therefore the output, is unchanged, while per-task memory
#: drops from occ×dim×8 to ~cap×dim×8 (≈2 MB at dim 64).
KNN_ANN_MAX_BLOCK = 4096


def _pack_buckets_salted(sigs: DataFrame) -> DataFrame:
    """Pack ``(vec_id, embedding, bucket)`` rows into bucket-keyed
    block rows with the :data:`KNN_ANN_MAX_BLOCK` occupancy cap: one
    vocabulary-sized occupancy aggregate decides each bucket's salt
    count, a secondary ``xxhash64`` spreads members across the salted
    sub-blocks, and the packed relation keeps the BUCKET as ``blk``
    (the probe-join key) so downstream pair generation is oblivious
    to the split.  Sub-blocks of one bucket have disjoint members, so
    the scorer's same-array diagonal mask still fires exactly on true
    self-pairs."""
    occ = sigs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    nsalt = occ.select(
        "bucket",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("n_b") / F.lit(KNN_ANN_MAX_BLOCK)),
        )
        .cast("long")
        .alias("nsalt"),
    )
    # EXPLICIT broadcast: the salt-count relation is ≤ 2^planes short
    # rows, but it hangs off a mapInPandas output with no stats, so
    # without the hint Spark picks a sort-merge join and SHUFFLES the
    # full (vec_id, embedding) corpus — measured 3× the whole sweep's
    # wall at the 100× probe scale.
    vb = sigs.join(F.broadcast(nsalt), "bucket").withColumn(
        "salt", F.pmod(F.xxhash64(F.col("vec_id"), F.lit(1)), F.col("nsalt"))
    )
    return (
        vb.groupBy("bucket", "salt")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("rs")
        )
        .select(
            F.col("bucket").alias("blk"),
            F.expr("transform(rs, r -> r.vec_id)").alias("ids"),
            F.expr("flatten(transform(rs, r -> r.embedding))").alias("mat"),
        )
    )


def _knn_ann_planes(n: int) -> int:
    """Corpus-adaptive LSH plane count for the kNN-graph sweep."""
    import math

    return min(
        KNN_ANN_MAX_PLANES,
        max(
            KNN_ANN_MIN_PLANES,
            round(math.log2(max(n, 1) / KNN_ANN_TARGET_OCC)),
        ),
    )


def _knn_ann_index_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The packed LSH bucket relation ``((blk, ids, mat), planes)`` —
    the ANN index itself, built once per session and queried many
    times (the FAISS lifecycle; same contract as the IVF quantizer
    cache).  Held as a ``localCheckpoint`` (lineage truncated — can
    never plan-match a fresh build; blocks freed by
    ``registry.clear_model_cache``), persisted/reloaded by models.py,
    cold build priced in bench cold_sec.  At production scale this IS
    the served index resident in cluster storage; rebuilding it per
    query would re-pay the corpus signature pass + packing shuffle
    every time.

    The PLANE COUNT travels with the packed relation (ADVICE r14): a
    cached index built when the corpus sat on the other side of a
    :func:`_knn_ann_planes` boundary must be probed with ITS OWN bit
    width, not one re-derived from the current file — a mismatched
    flip set silently degrades candidate completeness."""
    mc = session_model_cache(spark)
    key = ("knn_ann_index", sf_dir)
    cached = mc.get(key)
    # legacy guard: a store persisted before the plane count traveled
    # with the relation loads as a 1-tuple — REBUILD rather than pair
    # the packed relation with a re-derived count (the exact silent
    # mismatch the tuple exists to prevent).
    if cached is not None and len(cached) >= 2:
        packed, p = cached[0], int(cached[1])
        return packed, p
    if cached is not None:
        # legacy 1-tuple being rebuilt: free the old frame before
        # overwriting the only handle (r16 review).  BOTH releases:
        # unpersist covers store-loaded frames (models.py persists
        # parquet reads — plan-keyed, not LogicalRDD), the checkpoint
        # release covers session-built ones; each is a no-op for the
        # other shape.
        from s3_manifest_spark.registry import _release_checkpoint_blocks

        cached[0].unpersist(blocking=False)
        _release_checkpoint_blocks(cached[0])
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    p = _knn_ann_planes(n)
    sigs = _ann_signatures(
        v, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
    ).withColumnRenamed("sig", "bucket")
    packed = _pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    ).localCheckpoint(eager=True)
    mc[key] = (packed, p)
    return packed, p


def _probe_masks(p: int, radius: int) -> list[int]:
    """The multi-probe XOR masks at bit width ``p``: identity plus
    every combination of up to ``radius`` bit flips — the single
    definition both the column-expression sweep
    (:func:`knn_graph_ann_neighbors`) and the driver-side pre-exploded
    query pack (:func:`_knn_query_pack_cached`) enumerate, so the two
    probe sets cannot drift."""
    import itertools

    masks = [0]
    for rr in range(1, radius + 1):
        for bits in itertools.combinations(range(p), rr):
            mask = 0
            for b in bits:
                mask |= 1 << b
            masks.append(mask)
    return masks


def _knn_query_pack_cached(
    spark: SparkSession, sf_dir: str, exact: DataFrame, p: int
) -> DataFrame:
    """The sampled audit's QUERY-SIDE probe relation — the stride
    sample's vectors bucket-packed under the served index's plane
    count, PRE-EXPLODED by the multi-probe masks into
    ``(ids_a, mat_a, pblk)`` rows and rebuilt as a DRIVER-LOCAL
    relation (r17): the probing side of the sweep is bounded
    (≤ MAX_QUERIES vectors × (1+planes) probes — never corpus-sized),
    and a LocalRelation broadcast materializes driver-side without
    launching a single task, where the former checkpointed frame paid
    a full scan job per probe (measured ~0.2 s of the sampled
    certificate's warm wall).  The sample is deterministic per corpus
    (stride + cap), so this is index-adjacent session state exactly
    like the membership relation: built once (one
    broadcast-semi-filtered corpus pass + one bounded collect),
    persisted/reloaded by models.py, priced in bench cold_sec,
    released by ``registry.clear_model_cache``.  The baked-in probe
    set is the production radius (:data:`KNN_ANN_MULTIPROBE`);
    :func:`knn_graph_ann_neighbors` rejects a pre-exploded pack at
    any other radius."""
    mc = session_model_cache(spark)
    key = ("knn_query_pack", sf_dir)
    cached = mc.get(key)
    # The pack's bit width must equal the SERVED index's — a pack
    # persisted under a different plane count (legacy planes-less
    # 1-tuple, or a store saved across a _knn_ann_planes boundary)
    # would silently flip the wrong bits at probe time (ADVICE r15,
    # query-side edition of the knn_ann_index legacy guard above).
    if cached is not None and len(cached) >= 2 and int(cached[1]) == int(p):
        return cached[0]
    if cached is not None:
        # superseded width (legacy 1-tuple or plane-boundary reload):
        # free the stale pack before the rebuild drops the only handle
        # (r16 review).  Both releases — unpersist for store-loaded
        # frames, checkpoint release for session-built ones; each a
        # no-op for the other shape.
        from s3_manifest_spark.registry import _release_checkpoint_blocks

        cached[0].unpersist(blocking=False)
        _release_checkpoint_blocks(cached[0])
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = v.join(
        F.broadcast(exact.select("vec_id").distinct()), "vec_id"
    )
    qsigs = _ann_signatures(
        qv, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
    ).withColumnRenamed("sig", "bucket")
    import pandas as pd

    blocks = _pack_buckets_salted(
        qsigs.select("vec_id", "embedding", "bucket")
    ).toPandas()
    # driver-side multi-probe explosion: replicate each query block
    # under every probe mask — the same enumeration the column sweep
    # uses (_probe_masks), XORed in int64 exactly like bitwiseXOR.
    exploded = pd.concat(
        [
            pd.DataFrame(
                {
                    "ids_a": blocks["ids"].map(list),
                    "mat_a": blocks["mat"].map(list),
                    "pblk": blocks["blk"].astype("int64") ^ m,
                }
            )
            for m in _probe_masks(int(p), KNN_ANN_MULTIPROBE)
        ],
        ignore_index=True,
    )
    pack = spark.createDataFrame(
        exploded, schema="ids_a array<long>, mat_a array<double>, pblk long"
    )
    mc[key] = (pack, int(p))
    return pack


def _knn_query_probes_cached(
    spark: SparkSession, sf_dir: str, pack: DataFrame, p: int
):
    """Driver-resident probe table for the sampled sweep: a Spark
    BROADCAST VARIABLE mapping each probed index bucket to ONE
    concatenated (qids, qmat) matrix of every sampled query probing it
    (r17).  Derived from the pre-exploded query pack by grouping on
    ``pblk`` — each query lives in exactly one bucket and the probe
    masks are distinct, so a query appears at most once per probed
    bucket and per-row top-k over the concatenated matrix is
    row-for-row identical to scoring the (A-block, B-block) pairs
    separately.  Lets the sweep run as ONE ``mapInPandas`` pass over
    the served index — no probe join, no (1+planes)-fold A-block
    shipping, one matmul per index block instead of one per pair.
    Bounded by construction: ≤ MAX_QUERIES vectors × (1+p) probes of
    (id + d doubles).  Session-cached next to the pack (rebuilt from
    it — never persisted to the model store; the Broadcast is
    destroyed by ``registry.clear_model_cache``)."""
    import numpy as np

    mc = session_model_cache(spark)
    key = ("knn_query_probes", sf_dir)
    cached = mc.get(key)
    if cached is not None and int(cached[1]) == int(p):
        return cached[0]
    if cached is not None:
        try:  # superseded width: free the stale broadcast's blocks
            cached[0].destroy()
        except Exception:
            pass
    pdf = pack.toPandas()
    grouped: dict[int, list] = {}
    for raw_ids, raw_mat, pblk in zip(
        pdf["ids_a"].to_numpy(), pdf["mat_a"].to_numpy(), pdf["pblk"].to_numpy()
    ):
        ia = np.asarray(list(raw_ids), dtype="int64")
        ma = np.asarray(list(raw_mat), dtype="float64").reshape(len(ia), -1)
        # the scorer-side normalization clamp, applied ONCE at build
        ma /= np.maximum(np.linalg.norm(ma, axis=1, keepdims=True), 1e-12)
        grouped.setdefault(int(pblk), []).append((ia, ma))
    probes = {
        blk: (
            np.concatenate([ia for ia, _ in parts]),
            np.concatenate([ma for _, ma in parts], axis=0),
        )
        for blk, parts in grouped.items()
    }
    bc = spark.sparkContext.broadcast(probes)
    mc[key] = (bc, int(p))
    return bc


def knn_graph_ann_neighbors(
    spark: SparkSession,
    sf_dir: str,
    probe_radius: int = KNN_ANN_MULTIPROBE,
    index: tuple[DataFrame, int] | None = None,
    queries: DataFrame | None = None,
    probing_pack: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair kNN graph — the production sibling of
    :func:`knn_graph`: every vector's top-:data:`KNN_GRAPH_K` cosine
    neighbors AMONG the vectors sharing an LSH bucket within Hamming
    radius :data:`KNN_ANN_MULTIPROBE` of its own.  Identical output
    contract (vec_id, neighbor_id, cos_sim ≤ k rows per vector);
    candidate-bounded work instead of the exact sweep's O(N²d).

    Physical strategy: one narrow signature pass
    (:func:`_ann_signatures`, corpus-adaptive plane count
    :func:`_knn_ann_planes`), the same packed-block relation as the
    exact sweep but keyed by BUCKET instead of a uniform hash, then
    ordered block pairs restricted to (bucket, bucket ⊕ one bit) —
    (1+planes)·2^planes pairs instead of all B².  Each ordered pair
    appears exactly once (pair (a,b) arises only from a's probe list),
    and every vector lives in exactly one bucket, so no candidate is
    scored twice and the shared merge window
    (:func:`_block_pair_topk`) ranks exact distinct candidates.

    Scale accounting: with planes ≈ log2(N/occ) the flop count is
    Σ_pairs |A|·|B|·d ≈ N·occ·(1+planes)·d — linear·log in N versus
    the exact sweep's quadratic (the committed 10×/100× probes
    measure it).  Shuffle volume: one corpus pass into bucket-keyed
    packed rows, (1+planes) copies of each out of the probe join,
    then ≤ k·(pairs touching the vector) candidate rows into the
    merge exchange.  Hot buckets (real corpora cluster) are handled
    STRUCTURALLY, not just by AQE: packing caps sub-block membership
    at :data:`KNN_ANN_MAX_BLOCK` (:func:`_pack_buckets_salted` —
    per-bucket adaptive salt counts; the bucket stays the join key,
    so candidates and output are unchanged while per-task memory is
    bounded at cap×dim×8 bytes).

    ``probe_radius=0`` (self-bucket only) is the deliberate BROKEN
    mode the falsification test uses: the canonical membership still
    promises radius-1 completeness, so dropping the flip probes must
    flip ``ann_complete_ok`` to false wherever an exact member sits
    one bit away.

    ``index``: a pre-built ``(packed bucket relation, plane count)``
    pair (the registered certificate passes the session-cached one,
    :func:`_knn_ann_index_cached` — build once, query many; the
    streamed maintainer passes its post-drain state).  The
    default ``None`` builds fresh from the corpus, which is what the
    library tests, the broken-mode falsification, and the 10× scale
    probe exercise (so the probe's wall honestly includes the
    signature pass + packing shuffle).
    """
    if index is not None:
        # probe with the INDEX'S OWN plane count (ADVICE r14): the
        # served relation may have been packed when the corpus sat on
        # the other side of a _knn_ann_planes boundary, and a flip set
        # derived from the current file would probe the wrong bits.
        packed, p = index
    else:
        n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
        p = _knn_ann_planes(n)
        v = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        sigs = _ann_signatures(
            v, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        packed = _pack_buckets_salted(
            sigs.select("vec_id", "embedding", "bucket")
        )
    # Full multi-probe up to the requested Hamming radius (ADVICE r14:
    # the old comprehension emitted only single-bit flips, so any
    # radius >= 1 silently probed radius 1 while _knn_ann_membership
    # promised Hamming <= radius).  Masks are distinct, so each ordered
    # block pair is still generated exactly once.  Fan-out is
    # sum_{j<=r} C(p, j) block copies — r=1 keeps the documented
    # (1+planes) shape; r=2 is the quadratic widening a recall-starved
    # corpus would opt into (see knn_ann_tuning_curve for the dial).
    probe_arr = F.array(
        *[
            F.col("blk") if m == 0 else F.col("blk").bitwiseXOR(F.lit(m))
            for m in _probe_masks(p, probe_radius)
        ]
    )
    if probing_pack is not None:
        # pre-built query-side pack (the sampled certificate passes
        # its session-cached one, _knn_query_pack_cached).  Only valid
        # WITH an explicit index: signatures are comparable only under
        # one plane matrix, and a pack built against a served index
        # probed at a file-derived count would silently flip the wrong
        # bits (the ADVICE-r14 mismatch, query-side edition).
        if index is None:
            raise ValueError(
                "probing_pack requires an explicit index=(packed, "
                "planes) built under the same plane count"
            )
        if "pblk" in probing_pack.columns:
            # PRE-EXPLODED pack (r17, _knn_query_pack_cached): the
            # probe masks are baked in at the production radius, so a
            # different radius would silently probe the wrong set —
            # reject loudly (the plane-width guard's radius edition).
            if probe_radius != KNN_ANN_MULTIPROBE:
                raise ValueError(
                    "pre-exploded probing_pack is baked at probe "
                    f"radius {KNN_ANN_MULTIPROBE}; rebuild the pack "
                    f"for radius {probe_radius}"
                )
            # Broadcast-kernel sweep (r17): the probing side is
            # bounded (≤ MAX_QUERIES × (1+p) probes), so ship it as a
            # broadcast VARIABLE and score in ONE Arrow pass over the
            # served index — no probe join, no per-pair A-block
            # re-unpacking, one matmul per index block against the
            # concatenated queries probing it.  Row-for-row identical
            # to the pair path: per-A-row local top-k against a B
            # block is independent of which other A rows share the
            # matmul, and the same merge ranks the same candidates.
            import numpy as np
            import pandas as pd

            bc = _knn_query_probes_cached(
                spark, sf_dir, probing_pack, p
            )
            k = KNN_GRAPH_K

            def score(batches):
                lookup = bc.value
                for batch in batches:
                    for raw_blk, raw_ib, raw_mb in zip(
                        batch["blk"].to_numpy(),
                        batch["ids"].to_numpy(),
                        batch["mat"].to_numpy(),
                    ):
                        hit = lookup.get(int(raw_blk))
                        if hit is None:
                            continue
                        ia, ma = hit
                        ib = np.asarray(list(raw_ib), dtype="int64")
                        mb = np.asarray(
                            list(raw_mb), dtype="float64"
                        ).reshape(len(ib), -1)
                        mb /= np.maximum(
                            np.linalg.norm(mb, axis=1, keepdims=True),
                            1e-12,
                        )
                        sims = np.round(ma @ mb.T, 6)
                        sims[ia[:, None] == ib[None, :]] = -np.inf
                        kk = min(k, sims.shape[1])
                        order = np.argsort(-sims, axis=1, kind="stable")[
                            :, :kk
                        ]
                        top = np.take_along_axis(sims, order, axis=1)
                        valid = np.isfinite(top).ravel()
                        if not valid.any():
                            continue
                        yield pd.DataFrame(
                            {
                                "vec_id": np.repeat(ia, kk)[valid],
                                "neighbor_id": ib[
                                    order.ravel()[valid]
                                ],
                                "cos_sim": top.ravel()[valid],
                            }
                        )

            cand = packed.mapInPandas(
                score, schema="vec_id long, neighbor_id long, cos_sim double"
            )
            return _merge_topk(cand, KNN_GRAPH_K)
        probing = probing_pack
    elif queries is not None:
        # QUERY-SIDE restriction (the sampled certificate's shape, and
        # the general "query the served index" path): pack only the
        # query vectors on the probing side — one narrow signature
        # pass over the broadcast-semi-filtered corpus — and probe the
        # full served index with them.  Per query the candidate set
        # (members of buckets within the probe radius of its own) is
        # IDENTICAL to the full sweep's, so the output equals the full
        # graph restricted to the query set; the flop count drops from
        # N·occ·probes·d to |Q|·occ·probes·d.  Self-matches are
        # handled by the scorer's id-equality mask (queries also live
        # inside the index blocks, off the diagonal here).
        v = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        qv = v.join(F.broadcast(queries.select("vec_id").distinct()), "vec_id")
        qsigs = _ann_signatures(
            qv, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        probing = _pack_buckets_salted(
            qsigs.select("vec_id", "embedding", "bucket")
        )
    else:
        probing = packed
    left = probing.select(
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
        F.explode(probe_arr).alias("pblk"),
    )
    right = packed.select(
        F.col("blk").alias("pblk"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
    )
    if probing is not packed:
        # bounded query side (the sampled audit / "query the served
        # index" path): the probing relation is |Q|-vectors small while
        # the index side is the corpus — broadcast the query blocks so
        # the probe join never shuffles the index (both relations are
        # stat-less checkpoint/kernel outputs, so without the hint
        # Spark sort-merges and shuffles BOTH sides — measured 2x the
        # whole sampled sweep's wall at sf0.1).  The full self-sweep
        # keeps the shuffle join: there left IS the index times
        # (1+planes), never broadcastable at scale.
        left = F.broadcast(left)
    pairs = left.join(right, "pblk").drop("pblk")
    return _block_pair_topk(pairs, KNN_GRAPH_K)


def _knn_exact_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized exact kNN-graph relation (``knn_graph``) the
    certificate verifies against — N·k small rows, session-cached
    (scored once per session, released by
    ``registry.clear_model_cache``, cold build priced in bench
    cold_sec, persisted/reloaded by models.py).

    ``localCheckpoint``, NOT ``.persist()`` (the r12 model-frame rule,
    and here it is load-bearing in the OTHER direction too): a
    persisted frame registers its logical plan in Spark's CacheManager,
    and ``knn_graph``'s plan is byte-identical across calls (the
    scorer closure captures only ``k``) — so a warm re-run of the
    knn_graph QUERY itself would be silently served from this cache
    and the bench would report the cached read, not the sweep.  The
    checkpoint's LogicalRDD can never plan-match a fresh query.

    NOT driver-localized (r17, measured): unlike the query-bounded
    similarity/sampled exact relations, this one is the STREAMED side
    of the corpus-wide certificate join — a single-partition
    LocalRelation serializes its exchange write, and the interleaved
    A/B read local ≈0.15-0.2 s SLOWER than the distributed checkpoint
    (min-of-8: 1.53 vs 1.34 s).  Driver-localization is for BUILD
    (broadcast) sides and tiny streamed relations only."""
    mc = session_model_cache(spark)
    key = ("knn_exact", sf_dir)
    cached = mc.get(key)
    if cached is not None:
        return cached[0]
    exact = knn_graph(spark, sf_dir).localCheckpoint(eager=True)
    mc[key] = (exact,)
    return exact


def _knn_ann_membership(
    spark: SparkSession, sf_dir: str, exact: DataFrame, planes: int | None = None
) -> DataFrame:
    """(vec_id, neighbor_id, should_find) for the kNN-graph ANN: the
    exact member's canonical bucket is within Hamming radius
    :data:`KNN_ANN_MULTIPROBE` of the vector's own — recomputed from
    the canonical signature assignment, independent of the candidate
    sweep under test.  Signatures are one narrow corpus pass (no
    embedding carried); the two equi-joins move only the N·k exact
    relation, so the membership build is scan + two bounded joins,
    never an all-pairs relation.

    ``planes``: the SERVED index's bit width (ADVICE r15) — the
    should_find promise must be stated at the width the sweep actually
    probes, which after an index reload across a :func:`_knn_ann_planes`
    boundary differs from the file-derived count.  Defaults to the
    file-derived count for the fresh-build path.

    r18: the relation CARRIES ``cos_sim`` from the exact member rows
    it is built over — the certificate's former per-call
    exact⋈membership SortMergeJoin is pre-fused here at build time
    (both inputs are already session index state; the fused relation
    is the same state, one column wider).  ``_ann_certificate`` takes
    the join-free path when it sees the column."""
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if planes is not None:
        p = int(planes)
    else:
        n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
        p = _knn_ann_planes(n)
    sigs = _ann_signatures(
        v, seed_offset=KNN_ANN_SEED_OFFSET, with_embedding=False, planes=p
    )
    # carry cos_sim when the exact relation has it (production always
    # does; synthetic id-only exact relations in tests fall back to the
    # bare 3-column membership and the certificate's join path)
    carry = ["cos_sim"] if "cos_sim" in exact.columns else []
    exact_rows = exact.select("vec_id", "neighbor_id", *carry)
    sa = sigs.select("vec_id", F.col("sig").alias("sig_a"))
    sb = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("sig").alias("sig_b")
    )
    return (
        exact_rows.join(sa, "vec_id")
        .join(sb, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            *carry,
            (
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                <= KNN_ANN_MULTIPROBE
            ).alias("should_find"),
        )
    )


#: DuckDB twin of the kNN-graph certificate's exact side: knn_graph's
#: own oracle aggregated to the k-th (minimum) kept similarity per
#: vector.  As with _ANN_CERT_SQL, ann_complete_ok is literal true on
#: the oracle side BY DESIGN — DuckDB cannot re-run the engine-seeded
#: LSH sweep; the flag's falsifiability is pinned by the local
#: broken-ANN test (probe_radius=0 must flip rows false), and the
#: hash match proves the flag ACTUALLY came out true on the Spark
#: side plus an independently recomputed exact_kth_sim per vector.
#: greatest(..., 1e-12) mirrors the Spark scorer's zero-norm clamp
#: (ADVICE r14: without it a zero vector diverges the engines).
_KNN_ANN_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e)
               / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
)
SELECT vec_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY vec_id
"""


@register("knn_graph_ann", oracle=_KNN_ANN_CERT_SQL)
def knn_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for :func:`knn_graph_ann_neighbors`
    (the LSH-candidate-pair production kNN graph) — the
    :func:`_ann_certificate` contract applied corpus-wide: per VECTOR
    (every corpus row is a query here), the k-th exact similarity from
    the certified baseline (:func:`knn_graph`, session-cached) and a
    deterministic ``ann_complete_ok`` — every exact top-k member
    whose canonical bucket the vector PROBES (Hamming distance at most
    :data:`KNN_ANN_MULTIPROBE` under the canonical signature
    assignment) must appear in the candidate sweep's output.  The raw neighbor
    relation stays available as ``knn_graph_ann_neighbors``."""
    exact = _knn_exact_cached(spark, sf_dir)
    idx = _knn_ann_index_cached(spark, sf_dir)
    membership = _membership_cached(
        spark,
        sf_dir,
        "knn",
        lambda: _knn_ann_membership(spark, sf_dir, exact, planes=idx[1]),
        planes=idx[1],
        # corpus-wide kind (every vector is a query → N·k rows):
        # never driver-localize (ADVICE r17) — keep the distributed
        # checkpoint path like _knn_exact_cached.
        localize=False,
    )
    cert = _ann_certificate(
        knn_graph_ann_neighbors(
            spark, sf_dir, index=idx
        ).withColumnRenamed("vec_id", "query_id"),
        membership.withColumnRenamed("vec_id", "query_id"),
        # corpus-wide: the found side IS the N·k sweep — see the
        # broadcast_found note in _ann_certificate
        broadcast_found=False,
    )
    return cert.withColumnRenamed("query_id", "vec_id")


#: sampling stride for the PRODUCTION-SCALE kNN-graph certificate:
#: the full certificate's exact side is the O(N²d) graph itself —
#: fine as fixture-scale ground truth, not runnable at 100 TB.  The
#: sampled certificate verifies completeness for every
#: 1-in-KNN_CERT_STRIDE vector (capped at MAX_QUERIES, lowest ids
#: first — the similarity_topk bound), whose exact side is one
#: broadcast-query BLAS pass: O(|S|·N·d), corpus never shuffled.
KNN_CERT_STRIDE = 4


def _knn_exact_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-:data:`KNN_GRAPH_K` relation for the SAMPLED vectors
    (vec_id % :data:`KNN_CERT_STRIDE` == 0, capped at MAX_QUERIES) —
    similarity_topk's broadcast-query matrix scoring with per-batch
    partial top-k, renamed to the graph's (vec_id, neighbor_id)
    contract.  This is what makes the sampled certificate
    scale-viable: O(|S|·N·d) flops, one corpus pass, no shuffle
    beyond the ≤ k·batches candidate merge.  Session-cached as a
    DRIVER-LOCAL relation (r17): the result is |S|·k ≤
    MAX_QUERIES·k tiny rows by construction, and a LocalRelation
    broadcasts into the certificate's joins driver-side — no scan
    job per probe, where the former localCheckpoint paid one.  (A
    LocalRelation also satisfies the r12/r14 plan-match rule: it can
    never be CacheManager-served back to a fresh query plan.)"""
    import numpy as np
    import pandas as pd

    mc = session_model_cache(spark)
    key = ("knn_exact_sampled", sf_dir)
    cached = mc.get(key)
    if cached is not None:
        return cached[0]
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qpdf = (
        v.filter(F.col("vec_id") % KNN_CERT_STRIDE == 0)
        .orderBy("vec_id")
        .limit(MAX_QUERIES)
        .toPandas()
    )
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((qids, qm))
    k = KNN_GRAPH_K

    def score(batches):
        ids_q, queries = bc.value
        for batch in batches:
            nids = batch["vec_id"].to_numpy(dtype="int64")
            e = np.stack(batch["embedding"].to_numpy()).astype("float64")
            e /= np.maximum(np.linalg.norm(e, axis=1, keepdims=True), 1e-12)
            sims = np.round(e @ queries.T, 6)  # (batch, q)
            out_v, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                keep = nids != qid
                cand_ids, cand_sims = nids[keep], sims[keep, j]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_v.append(np.full(len(order), qid))
                out_n.append(cand_ids[order])
                out_s.append(cand_sims[order])
            if not out_v:
                continue
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_v),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    scored = v.mapInPandas(
        score, schema="vec_id long, neighbor_id long, cos_sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact = spark.createDataFrame(
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .toPandas(),
        schema="vec_id long, neighbor_id long, cos_sim double",
    )
    mc[key] = (exact,)
    return exact


_KNN_ANN_SAMPLED_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v
      WHERE vec_id % {KNN_CERT_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(q.e, b.e)
               / (greatest(sqrt(list_dot_product(q.e, q.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v b ON b.vec_id <> q.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
)
SELECT vec_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY vec_id
"""


@register("knn_graph_ann_sampled", oracle=_KNN_ANN_SAMPLED_CERT_SQL)
def knn_graph_ann_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-SCALE completeness certificate for the candidate-pair
    kNN graph: identical contract to ``knn_graph_ann`` but verified for
    a deterministic 1-in-:data:`KNN_CERT_STRIDE` vector sample, whose
    exact side is one broadcast-query BLAS pass (O(|S|·N·d)) instead of
    the full O(N²d) graph — the shape a 100 TB corpus can actually
    afford to run continuously (the full certificate stays the
    fixture-scale ground truth; a local test pins this query equal to
    it restricted to the sample).  Larger audit loads stream in
    MAX_QUERIES-sized sample batches."""
    exact = _knn_exact_sampled(spark, sf_dir)
    idx = _knn_ann_index_cached(spark, sf_dir)
    membership = _membership_cached(
        spark,
        sf_dir,
        "knn_s",
        # |S|·k bounded rows; _membership_cached localizes the built
        # relation driver-side (r17), so its broadcast into the
        # certificate joins launches no scan job.
        lambda: _knn_ann_membership(spark, sf_dir, exact, planes=idx[1]),
        planes=idx[1],
    )
    cert = _ann_certificate(
        # query-side-restricted sweep (r15): probe the served index
        # with ONLY the sampled vectors — per sampled query the
        # candidate set is identical to the full sweep's, so this is
        # the full graph restricted to the sample at 1/stride of the
        # scoring flops (the audit shape the docstring promises).
        # The deterministic sample's pack is session state like the
        # index itself (_knn_query_pack_cached).
        knn_graph_ann_neighbors(
            spark,
            sf_dir,
            index=idx,
            probing_pack=_knn_query_pack_cached(
                spark, sf_dir, exact, idx[1]
            ),
        ).withColumnRenamed("vec_id", "query_id"),
        membership.withColumnRenamed("vec_id", "query_id"),
    )
    return cert.withColumnRenamed("query_id", "vec_id")


# ---------------------------------------------------------------------------
# kNN-ANN tuning curve (VERDICT r14 item 5): the evidence behind the
# KNN_ANN_* constants, the lsh_tuning_curve precedent applied to
# random-hyperplane LSH.
# ---------------------------------------------------------------------------

#: the (planes, probe_radius) grid the curve evaluates: every plane
#: count the adaptive rule can pick (min..max in steps of 4) crossed
#: with the probe radii the sweep supports (0 = self-bucket only — the
#: falsification mode; 1 = the production default; 2 = the quadratic
#: widening a recall-starved corpus would opt into).
KNN_ANN_TUNING_PLANES = (4, 8, 12, 16, 20, 24)
KNN_ANN_TUNING_RADII = (0, 1, 2)


#: the per-plane agreement probability, projected ONCE before the
#: config aggregates (random-hyperplane LSH — Goemans-Williamson /
#: Charikar SimHash).  Projecting q as a column instead of inlining
#: the acos into every chain factor keeps the 36 aggregate expression
#: trees small: inlined, each (24, 2) config carried ~72 acos
#: subtrees and Catalyst re-analysis alone cost ~2.8 s per bench rep
#: (the plan memo is cleared per rep by design).
_HYPERPLANE_Q_SQL = "(1.0 - acos(least(greatest(cos_sim, -1.0), 1.0)) / pi())"


def _hyperplane_capture_expr(p: int, radius: int) -> str:
    """Analytic probability that one exact kNN edge survives the
    candidate sweep at ``p`` planes / probe radius ``radius``: with
    per-plane agreement probability ``q`` (:data:`_HYPERPLANE_Q_SQL`,
    projected as a column named ``q`` by both engines), the two
    endpoints' signatures differ by a Binomial(p, 1-q) bit count, so
    capture = ``sum_{j<=radius} C(p,j) q^(p-j) (1-q)^j``.  Powers
    expand to repeated multiplication — identical IEEE product chains
    in both engines (libm ``pow`` is implementation-defined,
    multiplication is not; the lsh_tuning_curve recipe) — over the
    same 6-dp-rounded cos_sim both relations share.  ``acos``/``pi``
    may differ by an ulp across libm builds; the final 6-dp rounding
    of an AVERAGE absorbs that (no intermediate rounding, which would
    amplify an ulp into the rounding quantum)."""
    import math

    miss = "(1.0 - q)"
    terms = []
    for j in range(radius + 1):
        factors = ["q"] * (p - j) + [miss] * j
        prod = " * ".join(factors)
        terms.append(f"({math.comb(p, j)}.0 * ({prod}))")
    return "(" + " + ".join(terms) + ")"


def _knn_ann_tuning_oracle() -> str:
    arms = []
    for p in KNN_ANN_TUNING_PLANES:
        for r in KNN_ANN_TUNING_RADII:
            cap = _hyperplane_capture_expr(p, r)
            arms.append(
                f"""SELECT CAST({p} AS BIGINT) AS planes,
       CAST({r} AS BIGINT) AS probe_radius,
       CAST(count(*) AS BIGINT) AS n_edges,
       round(avg({cap}), 6) AS expected_capture,
       round(min({cap}), 6) AS min_capture
FROM edges_q"""
            )
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e)
               / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
topk AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
),
edges_q AS (SELECT {_HYPERPLANE_Q_SQL} AS q FROM topk)
{body}"""


@register("knn_ann_tuning_curve", oracle=_knn_ann_tuning_oracle())
def knn_ann_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How should the kNN-graph ANN pick (planes, probe_radius) for a
    new corpus?  For every config on the
    :data:`KNN_ANN_TUNING_PLANES` × :data:`KNN_ANN_TUNING_RADII` grid,
    the EXPECTED per-edge capture probability — the chance an exact
    top-k edge survives LSH candidate generation — over the corpus's
    ACTUAL neighbor-similarity distribution (the exact kNN relation),
    plus the worst edge's capture.  ``knn_graph_ann`` runs the
    adaptive plane count (~log2(N/32)) at radius 1; this query is the
    committed evidence for that choice and the dial for retuning when
    the neighbor-similarity profile shifts: capture falls with more
    planes (smaller buckets — less candidate work) and rises with
    probe radius (more block pairs) — the same recall-vs-cost S-curve
    ``lsh_tuning_curve`` plots for the MinHash banding split.

    One aggregate pass over the (already k·N-bounded) exact kNN
    relation, which is the SAME session-cached baseline the
    ``knn_graph_ann`` certificate verifies against — scored once per
    session, priced in cold_sec: the 18 configs are computed as 36
    aggregate columns and unpivoted with ``stack``; no joins, no
    shuffle beyond the (tiny) relation's own agg exchange.
    Determinism: see :func:`_hyperplane_capture_expr` (multiplication
    chains, one final 6-dp rounding).

    The completeness certificates (``knn_graph_ann``) verify the sweep
    returns what its buckets PROMISE; this curve quantifies how much
    the buckets promise — empirical capture under the engine's actual
    seeded planes is pinned against this expectation in
    tests/test_r15_knn_lifecycle.py and measured per-config in the
    committed KNN_ANN_TUNING.json (tools/probe_knn_ann_tuning.py)."""
    edges = _knn_exact_cached(spark, sf_dir).selectExpr(
        f"{_HYPERPLANE_Q_SQL} AS q"
    )
    aggs = [F.count(F.lit(1)).alias("n_edges")]
    for p in KNN_ANN_TUNING_PLANES:
        for r in KNN_ANN_TUNING_RADII:
            cap = _hyperplane_capture_expr(p, r)
            aggs += [
                F.round(F.avg(F.expr(cap)), 6).alias(f"ec_{p}_{r}"),
                F.round(F.min(F.expr(cap)), 6).alias(f"mc_{p}_{r}"),
            ]
    wide = edges.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({p} AS BIGINT), CAST({r} AS BIGINT), ec_{p}_{r}, mc_{p}_{r}"
        for p in KNN_ANN_TUNING_PLANES
        for r in KNN_ANN_TUNING_RADII
    )
    n_cfg = len(KNN_ANN_TUNING_PLANES) * len(KNN_ANN_TUNING_RADII)
    return wide.selectExpr(
        "n_edges",
        f"stack({n_cfg}, {stack_args}) AS "
        "(planes, probe_radius, expected_capture, min_capture)",
    ).select(
        "planes", "probe_radius", "n_edges", "expected_capture", "min_capture"
    )


def knn_ann_expected_capture(
    spark: SparkSession,
    sf_dir: str,
    planes: int | None = None,
    radius: int = KNN_ANN_MULTIPROBE,
) -> float:
    """Expected per-edge RECALL of the production kNN-ANN sweep at its
    ACTIVE (planes, radius) — the tuning curve's number evaluated at
    the dial the sweep actually runs (VERDICT r15 item 5: the
    completeness certificate says the sweep returned everything its
    buckets promised; THIS number says how much they promise, and a
    consumer should read it before trusting the graph).  Same analytic
    expression, same exact-edge relation, same rounding as
    :func:`knn_ann_tuning_curve` — at a grid config the two agree
    exactly (pinned by test_r16_consolidation).  Session-cached as a
    scalar alongside the index it describes; bench.py surfaces it as
    ``expected_capture`` in the certificate rows' queries_meta."""
    if planes is None:
        planes = _knn_ann_planes(
            parquet_row_count(f"{sf_dir}/embeddings.parquet")
        )
    mc = session_model_cache(spark)
    key = ("knn_ann_capture", sf_dir, int(planes), int(radius))
    cached = mc.get(key)
    if cached is not None:
        return float(cached[0])
    cap = _hyperplane_capture_expr(int(planes), int(radius))
    row = (
        _knn_exact_cached(spark, sf_dir)
        .selectExpr(f"{_HYPERPLANE_Q_SQL} AS q")
        .agg(F.round(F.avg(F.expr(cap)), 6).alias("ec"))
        .collect()[0]
    )
    value = float(row["ec"])
    mc[key] = (value,)
    return value


#: centroid components are rounded to this many decimals on BOTH
#: engines before the cosine pass: the quantum (5e-8) is ~7 orders
#: above cross-engine float-sum noise (~1e-15 relative), so the
#: rounded centroids are bit-identical and the per-row cosines agree
#: to ~1e-15 — safely inside the 6-decimal output rounding.
CENTROID_ROUND = 7


@register(
    "embedding_centroid_stats",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    comp AS (
      SELECT label, i, round(avg(e[i]), {CENTROID_ROUND}) AS c
      FROM (SELECT label, e, unnest(range(1, len(e) + 1)) AS i FROM v)
      GROUP BY label, i
    ),
    cent AS (SELECT label, list(c ORDER BY i) AS ce FROM comp GROUP BY label),
    scored AS (
      SELECT v.label,
             round(list_dot_product(e, ce)
                   / (sqrt(list_dot_product(e, e))
                      * sqrt(list_dot_product(ce, ce))), 6) AS cos
      FROM v JOIN cent USING (label)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(cos), 6)       AS mean_cos,
           round(min(cos), 6)       AS min_cos
    FROM scored
    GROUP BY label
    """,
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cohesion report: class centroid, then each
    member's cosine to its centroid, aggregated to (count, mean, min)
    — the quality gauge run on labeled/clustered embeddings before
    trusting them for semantic dedup or stratified sampling (a low
    min_cos flags mislabeled or outlier vectors).

    Two passes, both scale-shaped: (1) the centroid is an elementwise
    mean computed as ``posexplode -> groupBy(label, pos) avg`` — the
    partial aggregate combines map-side, so the exchange carries at
    most labels x dim rows PER TASK (tiny), never the corpus; the
    per-label component rows then fold into one centroid array row
    via sort_array(collect_list) over <= labels x dim rows.  (2) the
    centroid relation (labels rows) is broadcast back onto the corpus
    and the cosine is a codegen'd zip_with/aggregate fold — no
    Python, no second corpus shuffle; the final rollup is again
    map-side combinable.  Centroid components are rounded to
    :data:`CENTROID_ROUND` decimals on both engines, which absorbs
    cross-engine float-sum ordering noise (see constant docstring).
    """
    v = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    comp = (
        v.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), CENTROID_ROUND).alias("c"))
    )
    cent = (
        comp.groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, r -> r.c)").alias("ce"))
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "label",
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, ce, (x, y) -> CAST(x AS DOUBLE) * y),"
                " 0D, (a, x) -> a + x)"
            )
            / (
                F.sqrt(
                    F.expr(
                        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),"
                        " 0D, (a, x) -> a + x)"
                    )
                )
                * F.sqrt(
                    F.expr("aggregate(transform(ce, y -> y * y), 0D, (a, x) -> a + x)")
                )
            ),
            6,
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
        F.round(F.min("cos"), 6).alias("min_cos"),
    )


@register(
    "embedding_covariance",
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (
      SELECT DISTINCT i
      FROM (SELECT unnest(range(1, len(e) + 1)) AS i FROM v)
    ),
    pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
    terms AS (
      SELECT p.i, p.j, v.e[p.i] AS x, v.e[p.j] AS y
      FROM v CROSS JOIN pairs p
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           -- + 0.0 canonicalizes IEEE -0.0 to +0.0: a covariance that
           -- rounds to zero can carry either sign depending on the
           -- engine's summation order, and the driver hash is bitwise
           round(avg(x * y) - avg(x) * avg(y), 6) + 0.0 AS cov
    FROM terms
    GROUP BY i, j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the relation PCA / whitening / dimension-pruning decisions are
    made from (the driver-side step after this query is a dim×dim
    eigensolve, trivial at any corpus size BECAUSE this reduction is
    distributed).

    Physical strategy — two-phase vectorized Gram reduction, the
    pattern a naive posexplode pair-join would get catastrophically
    wrong (dim²× row blowup through the exchange): each Arrow batch
    computes ONE ``Eᵀ@E`` BLAS call plus column sums and emits
    dim·(dim+1)/2 partial rows (i, j, Σxy, Σx, Σy, n); the exchange
    therefore carries ~2080 rows PER BATCH regardless of corpus size,
    and the final combine is an ordinary map-side-combinable
    groupBy(i,j) sum.  Covariance assembles as E[xy] − E[x]E[y] from
    the combined sums; 6-dp output rounding absorbs cross-engine
    float-sum ordering (both engines sum the identical
    float32→float64-promoted values).  1-based (i, j) matches the
    oracle's DuckDB list indexing.
    """
    import numpy as np
    import pandas as pd

    v = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            e = np.stack(batch["embedding"].to_numpy()).astype("float64")
            n, d = e.shape
            g = e.T @ e  # (d, d)
            s = e.sum(axis=0)  # (d,)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int64"),
                    "j": (ju + 1).astype("int64"),
                    "sxy": g[iu, ju],
                    "sx": s[iu],
                    "sy": s[ju],
                    "cnt": np.full(len(iu), n, dtype="int64"),
                }
            )

    partial = v.mapInPandas(
        gram, schema="i long, j long, sxy double, sx double, sy double, cnt long"
    )
    comb = partial.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("cnt").alias("n"),
    )
    return comb.select(
        "i",
        "j",
        # + 0.0 canonicalizes -0.0 (see oracle comment)
        (
            F.round(
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )
