"""Unit tests for the round-13 extension batch: corpus text operators
(gopher_quality_rules / ngram_corpus_topk / chunk_dedup_boilerplate),
per-label centroid stats, and triangle counting (the kNN-graph tests
live in test_knn_graph.py).
Oracle parity rides test_oracle_parity.py's sweep; these pin the
semantics against independent pure-Python recomputations and the
edge cases the oracles can't isolate (short docs, self-exclusion,
block-boundary correctness, triangle identity)."""

from __future__ import annotations

import collections
import math

import numpy as np

from s3_manifest_spark.operators import corpus as C
from s3_manifest_spark.operators.dedup import dedup_ngram_jaccard
from s3_manifest_spark.operators.graph import graph_triangles
from s3_manifest_spark.operators.similarity import embedding_centroid_stats
from s3_manifest_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF, "documents").collect()
    }


# ---------------------------------------------------------------- corpus ops


def test_gopher_rules_match_python(spark):
    docs = _docs(spark)
    gopher = C.gopher_quality_rules(spark, SF).toPandas()
    assert len(gopher) == len(docs)
    for _, row in gopher.iterrows():
        words = docs[row["doc_id"]].split(" ")
        n = len(words)
        mean_wl = round(sum(len(w) for w in words) / max(n, 1), 4)
        alpha = round(
            sum(1 for w in words if any(c.isalpha() for c in w)) / max(n, 1), 4
        )
        stops = sum(1 for w in words if w in C._STOPWORDS)
        assert int(row["n_words"]) == n
        # Python round() is banker's; Spark/DuckDB round is HALF_UP —
        # allow one quantum of divergence at .xxxx5 boundaries (the
        # engine-vs-engine agreement is the oracle sweep's job).
        assert abs(row["mean_word_len"] - mean_wl) < 1.01e-4
        assert abs(row["alpha_ratio"] - alpha) < 1.01e-4
        assert int(row["stop_count"]) == stops
        # verdict must be consistent with the features THE QUERY emits
        want = (
            C.GOPHER_MIN_WORDS <= row["n_words"] <= C.GOPHER_MAX_WORDS
            and C.GOPHER_MIN_MEAN_WORD_LEN
            <= row["mean_word_len"]
            <= C.GOPHER_MAX_MEAN_WORD_LEN
            and row["alpha_ratio"] >= C.GOPHER_MIN_ALPHA_RATIO
            and row["stop_count"] >= C.GOPHER_MIN_STOPWORDS
        )
        assert bool(row["passes"]) == want, row["doc_id"]


def test_gopher_rules_discriminate(spark):
    # the gate must not be vacuous on the fixture: both verdicts occur
    res = C.gopher_quality_rules(spark, SF).toPandas()
    assert res["passes"].any()
    assert (~res["passes"]).any()


def test_ngram_topk_matches_python(spark):
    docs = _docs(spark)
    counts: collections.Counter = collections.Counter()
    dfreq: collections.Counter = collections.Counter()
    for _doc, text in docs.items():
        t = text.split(" ")
        grams = [
            " ".join(t[i : i + C.NGRAM_N])
            for i in range(len(t) - C.NGRAM_N + 1)
        ]
        counts.update(grams)
        dfreq.update(set(grams))
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        : C.NGRAM_TOP_K
    ]
    res = C.ngram_corpus_topk(spark, SF).toPandas()
    assert len(res) == min(C.NGRAM_TOP_K, len(counts))
    got = sorted(
        zip(res["ngram"], res["n_occ"]), key=lambda kv: (-kv[1], kv[0])
    )
    assert [(g, int(n)) for g, n in got] == want
    for _, row in res.iterrows():
        assert int(row["n_docs"]) == dfreq[row["ngram"]]


def test_chunk_boilerplate_matches_python(spark):
    docs = _docs(spark)
    chunk_of: dict[int, list[str]] = {}
    freq: collections.Counter = collections.Counter()
    for doc, text in docs.items():
        t = text.split(" ")
        ch = [
            " ".join(t[i * C.CHUNK_TOKENS : (i + 1) * C.CHUNK_TOKENS])
            for i in range(len(t) // C.CHUNK_TOKENS)
        ]
        chunk_of[doc] = ch
        freq.update(ch)
    res = C.chunk_dedup_boilerplate(spark, SF).toPandas()
    assert len(res) == len(docs)
    assert (res["n_chunks"] > 0).any()
    for _, row in res.iterrows():
        ch = chunk_of[row["doc_id"]]
        dup = sum(1 for c in ch if freq[c] > 1)
        assert int(row["n_chunks"]) == len(ch)
        assert int(row["n_dup_chunks"]) == dup
        assert abs(
            row["boilerplate_ratio"] - round(dup / max(len(ch), 1), 4)
        ) < 1e-9


def test_chunk_boilerplate_short_doc_row(spark, monkeypatch):
    """A document shorter than one chunk still gets a (0, 0, 0) row —
    the left join from documents, not an inner join on the chunk
    relation — and sequence(0, -1) never produces Spark's descending
    [0, -1] for it (synthetic frame: the fixture has no sub-chunk
    docs).  ``register`` publishes the WRAPPED fn to the registry but
    returns the raw one, so calling the module attribute directly
    bypasses plan memoization — the patched loader cannot poison the
    session plan cache."""
    docs = spark.createDataFrame(
        [
            (1, "only three tokens"),
            (2, " ".join(["w%d" % i for i in range(25)])),
            (3, " ".join(["w%d" % i for i in range(10, 35)])),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(C, "load_table", lambda s, d, n, widen=False: docs)
    res = {
        int(r["doc_id"]): r
        for r in C.chunk_dedup_boilerplate(spark, SF).collect()
    }
    assert res[1]["n_chunks"] == 0
    assert res[1]["n_dup_chunks"] == 0
    assert res[1]["boilerplate_ratio"] == 0.0
    # docs 2 and 3 share the chunk "w10 ... w19" at aligned offsets
    assert res[2]["n_chunks"] == 2 and res[3]["n_chunks"] == 2
    assert res[2]["n_dup_chunks"] == 1 and res[3]["n_dup_chunks"] == 1
    assert abs(res[2]["boilerplate_ratio"] - 0.5) < 1e-9


# ------------------------------------------------------------ centroid stats


def test_centroid_stats_match_numpy(spark):
    emb = load_table(spark, SF, "embeddings").collect()
    by_label: dict[int, list[np.ndarray]] = collections.defaultdict(list)
    for r in emb:
        by_label[r["label"]].append(np.asarray(r["embedding"], dtype="float64"))
    res = embedding_centroid_stats(spark, SF).toPandas()
    assert set(res["label"]) == set(by_label)
    for _, row in res.iterrows():
        vs = by_label[row["label"]]
        cent = np.round(np.mean(np.stack(vs), axis=0), 7)
        cos = [
            round(
                float(v @ cent)
                / (math.sqrt(float(v @ v)) * math.sqrt(float(cent @ cent))),
                6,
            )
            for v in vs
        ]
        assert int(row["n_vecs"]) == len(vs)
        assert abs(row["mean_cos"] - round(sum(cos) / len(cos), 6)) < 2e-6
        assert abs(row["min_cos"] - round(min(cos), 6)) < 2e-6


# ---------------------------------------------------------------- triangles


def test_triangles_match_python(spark):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, SF)
        .select("doc_a", "doc_b")
        .collect()
    }
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    tri_count: collections.Counter = collections.Counter()
    for a, b in pairs:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c exactly once
                tri_count[a] += 1
                tri_count[b] += 1
                tri_count[c] += 1
    res = graph_triangles(spark, SF).toPandas()
    assert len(res) == len(adj)
    for _, row in res.iterrows():
        d = int(row["doc_id"])
        assert int(row["degree"]) == len(adj[d])
        assert int(row["triangle_count"]) == tri_count.get(d, 0)


def test_triangles_identity_sum(spark):
    """Σ per-node triangle_count = 3 × (number of distinct triangles):
    each triangle has exactly three corners."""
    res = graph_triangles(spark, SF).toPandas()
    total = int(res["triangle_count"].sum())
    assert total % 3 == 0

