"""Semantic tests for the corpus-curation operators (doc chunking,
vocabulary, TF-IDF, PII redaction, sampling, latest-record dedup,
outlier filtering) — properties on the fixture's known structure;
oracle-parity is covered by the driver harness."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from s3_manifest_spark.operators.curation import CHUNK_STRIDE, CHUNK_TOKENS
from s3_manifest_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return entrymod.queries()


def test_chunking_covers_every_token(spark, q):
    """Union of chunk starts at the stride must tile [0, n): the last
    chunk reaches the final token, the first starts at 0, and token
    counts per chunk never exceed CHUNK_TOKENS."""
    chunks = q["doc_chunking"](spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n")
    ).toPandas()
    n_by_doc = dict(zip(docs.doc_id, docs.n))
    assert (chunks["n_chunk_tokens"] <= CHUNK_TOKENS).all()
    assert (chunks["n_chunk_tokens"] >= 1).all()
    for doc_id, grp in chunks.groupby("doc_id"):
        n = n_by_doc[doc_id]
        expected_chunks = (n + CHUNK_STRIDE - 1) // CHUNK_STRIDE
        assert len(grp) == expected_chunks, (doc_id, n)
        last = grp.sort_values("chunk_idx").iloc[-1]
        # last chunk ends exactly at the final token
        assert last.chunk_idx * CHUNK_STRIDE + last.n_chunk_tokens == n


def test_chunk_overlap_is_exact(spark, q):
    """Consecutive chunks share exactly CHUNK_TOKENS - CHUNK_STRIDE
    tokens (when the earlier chunk is full)."""
    overlap = CHUNK_TOKENS - CHUNK_STRIDE
    chunks = q["doc_chunking"](spark, SF).toPandas()
    grp = chunks[chunks.doc_id == chunks.doc_id.iloc[0]].sort_values("chunk_idx")
    for (_, a), (_, b) in zip(grp.iterrows(), grp.iloc[1:].iterrows()):
        if a.n_chunk_tokens == CHUNK_TOKENS:
            tail = a.chunk_text.split(" ")[CHUNK_STRIDE:]
            head = b.chunk_text.split(" ")[: len(tail)]
            assert tail == head
            assert len(tail) == overlap


def test_vocab_counts_are_consistent(spark, q):
    v = q["vocab_topk"](spark, SF).toPandas()
    assert (v["n_docs"] <= v["n_total"]).all()
    assert v["n_total"].is_monotonic_decreasing or len(v) <= 1
    n_docs = load_table(spark, SF, "documents").count()
    assert (v["n_docs"] <= n_docs).all()


def test_tfidf_prefers_rare_terms(spark, q):
    """A term appearing in every document has idf = ln(1) = 0, so top
    terms must never be corpus-universal."""
    t = q["tfidf_topterms"](spark, SF).toPandas()
    v = q["vocab_topk"](spark, SF).toPandas()
    n_docs = load_table(spark, SF, "documents").count()
    universal = set(v[v.n_docs == n_docs].token)
    assert (t["tfidf"] >= 0).all()
    top1 = t.sort_values(["doc_id", "tfidf"], ascending=[True, False]).groupby(
        "doc_id"
    ).head(1)
    assert not set(top1.term) & universal


def test_pii_redact_finds_planted_pii(spark, q):
    p = q["pii_redact"](spark, SF).toPandas()
    assert (p["n_emails"] >= 1).all()
    assert (p["n_phones"] >= 1).all()


def test_sample_stratified_is_deterministic_and_rate_shaped(spark, q):
    a = q["sample_stratified"](spark, SF).toPandas()
    b = q["sample_stratified"](spark, SF).toPandas()
    assert sorted(a.doc_id) == sorted(b.doc_id)
    docs = load_table(spark, SF, "documents").groupBy("lang").count().toPandas()
    total = dict(zip(docs.lang, docs["count"]))
    got = a.groupby("lang").size()
    en_rate = got.get("en", 0) / total["en"]
    assert 0.10 < en_rate < 0.45, en_rate  # ~25% target, binomial slack


def test_dedup_latest_one_row_per_user_and_is_max(spark, q):
    d = q["dedup_latest"](spark, SF).toPandas()
    events = load_table(spark, SF, "events").toPandas()
    assert d.user_id.is_unique
    assert set(d.user_id) == set(events.user_id)
    max_ts = events.groupby("user_id").ts.max()
    for _, r in d.iterrows():
        assert r.ts == max_ts[r.user_id]


def test_outlier_filter_bounds(spark, q):
    o = q["outlier_filter"](spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").toPandas()
    lo, hi = docs.n_chars.quantile(0.05), docs.n_chars.quantile(0.95)
    assert (o["min_chars"] >= lo).all()
    assert (o["max_chars"] <= hi).all()
    assert o["n_docs"].sum() < len(docs)


def test_percentile_digest_brackets_exact(spark, q):
    """approx_percentile at accuracy 10000 on a few hundred rows is
    exact-rank; the raw digest must bracket the true quantiles per
    lang, and the registered certificate form must report every
    estimate in bound."""
    from s3_manifest_spark.operators.curation import percentile_digest_raw

    pd_ = percentile_digest_raw(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").toPandas()
    for _, r in pd_.iterrows():
        grp = docs[docs.lang == r.lang].n_chars
        assert grp.min() <= r.p05 <= r.p50 <= r.p95 <= grp.max()

    flags = q["percentile_digest"](spark, SF).toPandas()
    assert flags["p05_in_bound"].all()
    assert flags["p50_in_bound"].all()
    assert flags["p95_in_bound"].all()
    assert flags["n_docs"].sum() == len(docs)


def test_text_entropy_bounds_and_extremes(spark, q):
    """0 <= H <= log2(n_tokens); uniform docs hit the upper bound,
    single-token docs hit 0."""
    import numpy as np

    e = q["text_entropy"](spark, SF).toPandas()
    assert (e["token_entropy"] >= 0).all()
    assert (
        e["token_entropy"] <= np.round(np.log2(e["n_tokens"]), 4) + 1e-9
    ).all()


def test_contamination_screen_excludes_probes(spark, q):
    c = q["contamination_screen"](spark, SF).toPandas()
    from s3_manifest_spark.operators.curation import CONTAM_PROBE_STRIDE

    assert (c["doc_id"] % CONTAM_PROBE_STRIDE != 0).all()
    assert (c["n_probe_hits"] >= 1).all()


def test_contamination_bloom_supersets_exact_screen(spark, q):
    """Bloom filters have no false negatives: every doc the exact
    screen flags must be flagged by the bloom screen with at least as
    many candidate hits, and the bloom overshoot (false positives at
    ~1% FPR) must stay small relative to the exact answer."""
    from s3_manifest_spark.operators.curation import (
        contamination_bloom_candidates,
    )

    exact = q["contamination_screen"](spark, SF).toPandas()
    bloom = contamination_bloom_candidates(spark, SF).toPandas()
    e = dict(zip(exact["doc_id"], exact["n_probe_hits"]))
    b = dict(zip(bloom["doc_id"], bloom["n_candidate_hits"]))
    assert set(e) <= set(b), "bloom screen missed an exactly-flagged doc"
    for doc_id, hits in e.items():
        assert b[doc_id] >= hits, (doc_id, b[doc_id], hits)
    # overshoot bound: total candidate hits within 10% of exact hits
    assert sum(b.values()) <= 1.10 * sum(e.values()) + 10
    # the registered CERTIFICATE carries the same invariants as
    # driver-hashed flags over the exact relation
    cert = q["contamination_bloom"](spark, SF).toPandas()
    assert set(cert["doc_id"]) == set(e)
    assert cert["no_false_negative_ok"].all()
    assert cert["overshoot_ok"].all()


def test_domain_mix_shares_sum_to_one(spark, q):
    m = q["domain_mix"](spark, SF).toPandas()
    assert abs(m["token_share"].sum() - 1.0) < 1e-3
    assert (m["n_docs"] > 0).all()


def test_manifest_diff_classes_partition_universe(spark, q):
    d = q["manifest_diff"](spark, SF).toPandas()
    got = dict(zip(d.change_type, d.n_objects))
    assert set(got) == {"added", "removed", "changed", "unchanged"}
    from s3_manifest_spark.sources.tables import synth_listing

    listing = synth_listing(spark, SF).toPandas()
    n_old = listing[listing["size"] % 3 != 0]["key"].nunique()
    n_new = listing[listing["size"] % 5 != 0]["key"].nunique()
    # old-only + both = |old|; new-only + both = |new|
    both = got["changed"] + got["unchanged"]
    assert got["removed"] + both == n_old
    assert got["added"] + both == n_new


def test_fuzzy_join_finds_planted_typos(spark, q):
    """Every probe is a 2-edit typo of a real vocabulary token, so each
    probe must match its source token; the length block never filters a
    true match (|len diff| = 0 for swaps)."""
    f = q["fuzzy_join"](spark, SF).toPandas()
    assert len(f) > 0
    assert (f["dist"] <= 2).all()
    # the swapped-back token is always among each probe's matches
    for probe, grp in f.groupby("probe"):
        orig = probe[1] + probe[0] + probe[2:]
        assert orig in set(grp.token), probe


def test_chunking_edge_token_counts(spark):
    """Crafted documents at the stride boundaries: n=1 (single short
    chunk), n=CHUNK_STRIDE (exactly one start), n=CHUNK_STRIDE+1 (a
    second 1-token chunk), n=CHUNK_TOKENS (one full chunk)."""
    from s3_manifest_spark.operators import curation

    rows = []
    for i, n in enumerate([1, CHUNK_STRIDE, CHUNK_STRIDE + 1, CHUNK_TOKENS]):
        rows.append((i, " ".join(f"w{j}" for j in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("_edge_docs")

    # re-run the chunking expression over the crafted table
    from pyspark.sql import functions as F2

    toks = F2.expr("split(text, ' ', -1)")
    out = (
        df.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F2.posexplode(
                F2.sequence(
                    F2.lit(0), F2.size("toks") - 1, F2.lit(curation.CHUNK_STRIDE)
                )
            ).alias("chunk_idx", "start"),
            F2.size("toks").alias("n"),
        )
        .toPandas()
    )
    counts = out.groupby("doc_id").size().to_dict()
    assert counts == {0: 1, 1: 1, 2: 2, 3: 2}


def test_weighted_inclusion_no_int64_wrap(spark):
    """The inclusion test must hold in decimal(38,0): with ΣW > 2^31
    the int64 product u32·ΣW wraps (ANSI off → silent corruption).
    A doc with weight = ΣW must ALWAYS be included (P = min(1, K·1));
    the wrapped product would exclude docs essentially at random."""
    from pyspark.sql import functions as F2

    from s3_manifest_spark.operators.curation import weighted_inclusion

    w_total = 1 << 40  # ~1 TiB of corpus chars: far past the wrap point
    df = spark.createDataFrame(
        [(3_000_000_000, w_total, w_total),  # whole-corpus doc, huge u32
         (4_294_967_295, w_total, 1)],       # max u32, 1-char doc
        "u32 long, w_total long, weight long",
    )
    got = df.select(
        weighted_inclusion(F2.col("u32"), F2.col("w_total"), F2.col("weight"))
        .alias("inc")
    ).collect()
    assert got[0]["inc"] is True   # K·w·2^32 = K·ΣW·2^32 > u32·ΣW always
    assert got[1]["inc"] is False  # tiny weight, near-max uniform


def test_global_ordinal_dense_and_order_correct(spark):
    """Positions must be a dense 0..n-1 permutation matching the sort
    order, including duplicate sort keys and partitions left empty by
    the range split."""
    from s3_manifest_spark.operators.curation import global_ordinal

    rows = [(i % 7, i) for i in range(123)]  # duplicate keys on k
    df = spark.createDataFrame(rows, "k int, v int")
    got = global_ordinal(df, ["k", "v"]).toPandas()
    assert sorted(got["position"]) == list(range(123))
    ordered = got.sort_values("position")
    assert list(ordered[["k", "v"]].itertuples(index=False, name=None)) == sorted(rows)


def test_documents_doc_id_unique():
    """PK precondition the (doc, span) pre-aggregation kernels rely on
    (dedup.py span/rolling contracts): doc_id is unique in documents.
    Footer row count vs DuckDB distinct count — no Spark job."""
    import duckdb

    from s3_manifest_spark.sources.tables import parquet_row_count

    con = duckdb.connect()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        path = f"{sf}/documents.parquet"
        distinct = con.execute(
            f"SELECT count(DISTINCT doc_id) FROM read_parquet('{path}')"
        ).fetchone()[0]
        assert distinct == parquet_row_count(path), sf


def test_bloom_certificate_falsifies(spark):
    """The certificate's no_false_negative_ok flag must be load-bearing:
    zeroing part of the merged bitset manufactures false negatives
    (the one failure a Bloom filter must never have) and the flag must
    flip to False for at least one exactly-flagged doc."""
    from s3_manifest_spark.operators.curation import contamination_bloom

    broken = contamination_bloom(spark, SF, _zero_bits_frac=0.6).toPandas()
    assert len(broken) > 0
    assert not broken["no_false_negative_ok"].all()


def test_dataset_split_deterministic_and_growth_stable(spark, q):
    """Split assignment must be invariant to partitioning AND corpus
    growth: re-running over a repartitioned corpus yields identical
    per-(split, lang) rows, and adding documents never reassigns an
    existing one (hash-based, not RNG/sort-based)."""
    from s3_manifest_spark.operators.curation import (
        _SPLIT_HASH_SPARK,
        _split_case,
    )

    a = q["dataset_split"](spark, SF).toPandas()
    assert set(a["split"]) <= {"train", "val", "test"}
    # repartition invariance
    docs = load_table(spark, SF, "documents")
    expr = f"{_split_case(_SPLIT_HASH_SPARK)} AS split"
    b = (
        docs.repartition(7)
        .selectExpr(expr, "lang", "doc_id", "length(text) AS text_len")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("text_len").alias("text_mass"),
        )
        .toPandas()
    )
    key = ["split", "lang"]
    assert (
        a.sort_values(key).reset_index(drop=True).equals(
            b.sort_values(key).reset_index(drop=True)
        )
    )
    # growth stability: per-doc assignment over a half corpus agrees
    # with assignment over the full corpus for the shared documents
    half = docs.filter(F.col("doc_id") % 2 == 0)
    full_assign = docs.selectExpr("doc_id", expr).toPandas()
    half_assign = half.selectExpr("doc_id", expr).toPandas()
    merged = half_assign.merge(full_assign, on="doc_id", suffixes=("_h", "_f"))
    assert (merged["split_h"] == merged["split_f"]).all()
    # the cuts are roughly 80/10/10 at corpus scale
    tot = a.groupby("split")["n_docs"].sum()
    n = tot.sum()
    assert 0.7 < tot.get("train", 0) / n < 0.9
    assert 0.05 < tot.get("val", 0) / n < 0.15
    assert 0.05 < tot.get("test", 0) / n < 0.15


def test_heavy_hitters_cms_flags_are_falsifiable(spark, q):
    """Both CMS certificate flags must be load-bearing: the real run
    passes both; a positively-drifted estimate keeps never_under but
    breaks within_eps; a negatively-drifted one breaks never_under."""
    from s3_manifest_spark.operators.curation import heavy_hitters_cms

    good = heavy_hitters_cms(spark, SF).toPandas()
    assert len(good) > 0
    assert good["cms_never_under"].all()
    assert good["cms_within_eps"].all()
    over = heavy_hitters_cms(spark, SF, _drift=10**9).toPandas()
    assert over["cms_never_under"].all()
    assert not over["cms_within_eps"].any()
    under = heavy_hitters_cms(spark, SF, _drift=-(10**9)).toPandas()
    assert not under["cms_never_under"].any()


def test_heavy_hitters_match_vocab_counts(spark, q):
    """The exact side must agree with vocab_topk's counts on shared
    tokens (same tokenizer, same corpus)."""
    hh = q["heavy_hitters_cms"](spark, SF).toPandas().set_index("token")
    vocab = q["vocab_topk"](spark, SF).toPandas().set_index("token")
    shared = hh.index.intersection(vocab.index)
    assert len(shared) > 0
    for t in shared:
        assert hh.loc[t, "exact_count"] == vocab.loc[t, "n_total"]


def test_tfidf_relational_path_matches_broadcast_kernel(spark, q, monkeypatch):
    """VERDICT r12 item 1: past TFIDF_VOCAB_BROADCAST_CAP the dfreq
    model must stay a distributed relation (no driver-sized collect)
    and the relational scoring plan must produce byte-identical output
    to the broadcast kernel — same math, rounding, and tie-break."""
    from pyspark.sql import DataFrame

    from s3_manifest_spark.operators import curation
    from s3_manifest_spark.registry import clear_model_cache

    # baseline: broadcast-kernel output (fixture vocab 31 << cap)
    clear_model_cache(spark)
    base = (
        q["tfidf_topterms"](spark, SF)
        .toPandas()
        .sort_values(["doc_id", "term"])
        .reset_index(drop=True)
    )
    assert hasattr(
        spark._smsp_model_cache[("tfidf_dfreq", SF)], "value"
    ), "small-vocab fit should cache a Broadcast"

    # force the overflow: cap below the fixture vocabulary
    clear_model_cache(spark)
    monkeypatch.setattr(curation, "TFIDF_VOCAB_BROADCAST_CAP", 1)
    rel = (
        q["tfidf_topterms"](spark, SF)
        .toPandas()
        .sort_values(["doc_id", "term"])
        .reset_index(drop=True)
    )
    model = spark._smsp_model_cache[("tfidf_dfreq", SF)]
    assert isinstance(model, DataFrame), "overflow fit must stay relational"
    assert list(rel.columns) == list(base.columns)
    assert rel.equals(base), "relational TF-IDF diverged from the kernel"
    clear_model_cache(spark)


def test_tfidf_relational_path_fails_loud_on_stale_model(spark, q, monkeypatch):
    """The broadcast kernel raises on a term absent from the fitted
    model; the relational path must honor the same stale-model
    contract instead of silently inner-join-dropping the rows."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from s3_manifest_spark.operators import curation
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)
    monkeypatch.setattr(curation, "TFIDF_VOCAB_BROADCAST_CAP", 1)
    # fit, then stale-ify: drop one term from the cached model frame
    curation._tfidf_dfreq(spark, SF)
    model = spark._smsp_model_cache[("tfidf_dfreq", SF)]
    assert isinstance(model, DataFrame)
    a_term = model.select("term").first()["term"]
    spark._smsp_model_cache[("tfidf_dfreq", SF)] = model.filter(
        F.col("term") != a_term
    )
    with pytest.raises(Exception, match="absent from fitted dfreq model"):
        q["tfidf_topterms"](spark, SF).toPandas()
    clear_model_cache(spark)
