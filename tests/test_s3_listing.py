"""Connector tests against the in-package fake S3 (real ListObjectsV2
pagination/delimiter semantics, no network)."""

from __future__ import annotations

import pytest

from s3_manifest_spark.sources.fake_s3 import (
    FakeS3Client,
    fake_client_factory,
    synth_bucket,
)
from s3_manifest_spark.sources.s3_listing import (
    discover_shards,
    list_objects_df,
    manifest_from_s3,
    parse_output_location,
    parse_s3_uri,
)

ALL_KEYS = set(synth_bucket()["fake-bucket"].keys())  # 2520 keys


def test_parse_s3_uri():
    assert parse_s3_uri("s3://b/p/q") == ("b", "p/q")
    assert parse_s3_uri("s3://b") == ("b", "")
    assert parse_s3_uri("s3://b/") == ("b", "")
    with pytest.raises(ValueError):
        parse_s3_uri("http://b/p")
    with pytest.raises(ValueError):
        parse_s3_uri("s3:///p")


def test_parse_output_location():
    assert parse_output_location("s3://ob/k.parquet") == ("ob", "k.parquet")
    assert parse_output_location("/tmp/out.parquet") == (None, "/tmp/out.parquet")
    with pytest.raises(ValueError):
        parse_output_location("s3://ob")


def test_fake_pagination_matches_s3_semantics():
    c = fake_client_factory()
    got, token, pages = [], None, 0
    while True:
        kw = {"Bucket": "fake-bucket", "MaxKeys": 100}
        if token:
            kw["ContinuationToken"] = token
        r = c.list_objects_v2(**kw)
        got.extend(o["Key"] for o in r["Contents"])
        pages += 1
        if not r["IsTruncated"]:
            break
        token = r["NextContinuationToken"]
    assert pages > 1
    assert got == sorted(ALL_KEYS)  # S3 returns lexicographic order


def test_discover_shards_partition_keyspace():
    c = fake_client_factory()
    shards, direct = discover_shards(c, "fake-bucket", "", target_shards=5)
    assert len(shards) == 7  # dir0..dir6
    assert {o["Key"] for o in direct} == {k for k in ALL_KEYS if k.startswith("rootfile")}
    # deeper expansion when target is higher
    shards2, _ = discover_shards(c, "fake-bucket", "", target_shards=50)
    assert len(shards2) == 7 * 13
    assert len(set(shards2)) == len(shards2)


def test_list_objects_df_complete_and_exact(spark):
    df = list_objects_df(
        spark, "fake-bucket", client_factory=fake_client_factory, page_size=100
    )
    rows = df.collect()
    keys = [r.key for r in rows]
    assert len(keys) == len(ALL_KEYS)          # no dup from shard overlap
    assert set(keys) == ALL_KEYS               # no loss from pagination
    by_key = {r.key: r for r in rows}
    sample = by_key["dir1/sub1/file-000001.parquet"]
    assert sample.size == 37
    assert sample.last_modified.startswith("2024-01-01T00:01:00")


def test_list_objects_df_prefix_pushdown(spark):
    df = list_objects_df(
        spark, "fake-bucket", prefix="dir3/", client_factory=fake_client_factory
    )
    keys = {r.key for r in df.collect()}
    assert keys == {k for k in ALL_KEYS if k.startswith("dir3/")}


def test_manifest_from_s3_end_to_end(spark, tmp_path):
    out = str(tmp_path / "manifest.parquet")
    manifest_from_s3(
        spark,
        "s3://fake-bucket/dir2/",
        output=out,
        client_factory=fake_client_factory,
    )
    back = spark.read.parquet(out)
    rows = back.collect()
    expect = {k for k in ALL_KEYS if k.startswith("dir2/")}
    assert {r.Key for r in rows} == expect
    r0 = min(rows, key=lambda r: r.Key)
    assert r0.Bucket == "fake-bucket"
    assert r0.FileName == r0.Key.rsplit("/", 1)[-1]
    assert r0.Size >= 0 and r0.LastModified.year == 2024


def test_retry_gives_up_then_succeeds():
    class Flaky(FakeS3Client):
        calls = 0

        def list_objects_v2(self, **kw):
            Flaky.calls += 1
            if Flaky.calls % 3 == 1:
                raise ConnectionError("transient")
            return super().list_objects_v2(**kw)

    c = Flaky(synth_bucket())
    shards, direct = discover_shards(c, "fake-bucket", "", target_shards=5)
    assert len(shards) == 7 and len(direct) == 20


class _CodedError(Exception):
    """A non-boto client's S3 error: the code rides on ``exc.code``."""

    def __init__(self, code: str):
        super().__init__(code)
        self.code = code


class _ClientError(Exception):
    """botocore ``ClientError``'s shape: the code rides on ``response``."""

    def __init__(self, code: str, status: int):
        super().__init__(code)
        self.response = {
            "Error": {"Code": code},
            "ResponseMetadata": {"HTTPStatusCode": status},
        }


class _FailsFirst(FakeS3Client):
    """Raises ``exc`` on the first ``fails`` calls, then answers."""

    def __init__(self, exc: Exception, fails: int = 1):
        super().__init__(synth_bucket())
        self.exc, self.fails, self.calls = exc, fails, 0

    def list_objects_v2(self, **kw):
        self.calls += 1
        if self.calls <= self.fails:
            raise self.exc
        return super().list_objects_v2(**kw)


@pytest.mark.parametrize(
    "exc",
    [
        _CodedError("AccessDenied"),
        _ClientError("AccessDenied", 403),
        _ClientError("NoSuchBucket", 404),
        TypeError("bad argument"),
        KeyError("Contents"),
    ],
    ids=["access_denied_code", "access_denied_client", "no_such_bucket",
         "type_error", "key_error"],
)
def test_retry_terminal_error_raises_on_first_attempt(monkeypatch, exc):
    monkeypatch.setattr("s3_manifest_spark.sources.s3_listing.time.sleep",
                        lambda s: None)
    c = _FailsFirst(exc, fails=10)
    with pytest.raises(type(exc)):
        discover_shards(c, "fake-bucket", "", target_shards=1)
    assert c.calls == 1


@pytest.mark.parametrize(
    "exc",
    [
        _CodedError("SlowDown"),
        _ClientError("SlowDown", 503),
        _ClientError("InternalError", 500),
        ConnectionError("reset"),
        TimeoutError("read timed out"),
    ],
    ids=["slowdown_code", "slowdown_client", "internal_error",
         "connection_error", "timeout_error"],
)
def test_retry_transient_fault_retried_then_succeeds(monkeypatch, exc):
    monkeypatch.setattr("s3_manifest_spark.sources.s3_listing.time.sleep",
                        lambda s: None)
    c = _FailsFirst(exc, fails=2)
    shards, direct = discover_shards(c, "fake-bucket", "", target_shards=1)
    assert c.calls >= 3
    assert shards and len(direct) == 20


def test_manifest_observed_stats_single_job(spark, tmp_path):
    """Observation collects count/bytes from the same job that writes
    the manifest - no second listing pass (A2, main.rs:284-289)."""
    from pyspark.sql import Observation

    out = str(tmp_path / "obs.parquet")
    obs = Observation("stats")
    manifest_from_s3(
        spark,
        "s3://fake-bucket/dir1/",
        output=out,
        client_factory=fake_client_factory,
        observation=obs,
    )
    stats = obs.get
    back = spark.read.parquet(out)
    assert stats["objects"] == back.count()
    assert stats["total_bytes"] == sum(r.Size for r in back.collect())


def test_cli_end_to_end_single_object(spark, tmp_path, monkeypatch, capsys):
    """The full CLI surface (C3, main.rs:23-60) against the fake S3:
    argument parsing, listing, manifest derivation, --single-object
    write, and the reference's final stats line (main.rs:284-289)."""
    import os

    from s3_manifest_spark.manifest import cli

    monkeypatch.setattr(
        cli, "make_boto3_client_factory", lambda **kw: fake_client_factory
    )
    out = str(tmp_path / "m.parquet")
    rc = cli.main(
        ["s3://fake-bucket/dir2/", "-o", out, "--single-object", "--shards", "8"]
    )
    assert rc == 0
    assert os.path.isfile(out), "single-object mode writes ONE file at the key"
    back = spark.read.parquet(out)
    expect = {k for k in ALL_KEYS if k.startswith("dir2/")}
    assert {r.Key for r in back.collect()} == expect
    stats_line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "objects/sec" in stats_line and f"-> {out}" in stats_line


def test_listing_progress_heartbeat(spark):
    """U1 (main.rs:176-183): the live spinner's accumulator reaches the
    exact listed-object count and the final rendered line carries
    elapsed/count/rate."""
    import io
    import re

    from s3_manifest_spark.manifest.progress import ListingProgress

    buf = io.StringIO()
    with ListingProgress(spark, stream=buf, interval=0.05) as prog:
        df = list_objects_df(
            spark,
            "fake-bucket",
            client_factory=fake_client_factory,
            page_size=100,
            progress=prog,
        )
        n = df.count()
    assert n == len(ALL_KEYS)
    assert prog.count == n  # every page reported exactly once
    out = buf.getvalue()
    final = out.rsplit("\r", 1)[-1]
    assert re.search(rf"\[ *[\d.]+s\] {n} objects \([\d,]+ objects/sec\)", final)


def test_fake_start_after_semantics():
    """StartAfter begins strictly after the marker and is ignored when
    a ContinuationToken is present (real-S3 rules)."""
    from s3_manifest_spark.sources.fake_s3 import fake_client_factory

    c = fake_client_factory()
    marker = sorted(ALL_KEYS)[100]
    resp = c.list_objects_v2(
        Bucket="fake-bucket", StartAfter=marker, MaxKeys=50
    )
    got = [o["Key"] for o in resp["Contents"]]
    assert got == sorted(k for k in ALL_KEYS if k > marker)[:50]
    assert marker not in got
    # token overrides StartAfter
    tok = resp["NextContinuationToken"]
    resp2 = c.list_objects_v2(
        Bucket="fake-bucket",
        StartAfter="zzzz-way-past-everything",
        ContinuationToken=tok,
        MaxKeys=10,
    )
    assert [o["Key"] for o in resp2["Contents"]] == sorted(
        k for k in ALL_KEYS if k >= tok
    )[:10]


def test_incremental_listing_equals_tail(spark):
    """start_after must return exactly the keys above the marker —
    pagination, sharding, and the shard-skip fast path included — so
    previous ∪ incremental == full listing with no overlap."""
    marker = sorted(ALL_KEYS)[len(ALL_KEYS) // 2]
    inc = list_objects_df(
        spark,
        "fake-bucket",
        client_factory=fake_client_factory,
        page_size=100,
        start_after=marker,
    )
    got = sorted(r.key for r in inc.collect())
    assert got == sorted(k for k in ALL_KEYS if k > marker)


def test_incremental_listing_empty_when_marker_at_end(spark):
    last = max(ALL_KEYS)
    inc = list_objects_df(
        spark,
        "fake-bucket",
        client_factory=fake_client_factory,
        start_after=last,
    )
    assert inc.count() == 0


def test_incremental_listing_keeps_astral_key_shards(spark):
    """The shard-skip rule must be exact for arbitrary Unicode: a shard
    whose prefix is a prefix OF the marker can still hold keys above
    it (e.g. astral-plane code points > U+FFFF, where a p+'\\uffff'
    upper-bound sentinel would wrongly skip), while shards entirely
    below the marker are dropped."""
    import datetime as dt

    from s3_manifest_spark.sources.fake_s3 import custom_client_factory

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    keys = [
        "adir/low-key.txt",
        "data/aaa.txt",
        "data/\U00010000a.txt",   # astral-plane keys sort above ￿
        "data/\U00010000b.txt",
        "zdir/tail.txt",
    ]
    bucket = {"b": {k: (1, t) for k in keys}}
    factory = custom_client_factory(bucket)
    marker = "data/\U00010000a.txt"
    inc = list_objects_df(
        spark, "b", client_factory=factory, start_after=marker
    )
    got = sorted(r.key for r in inc.collect())
    assert got == sorted(k for k in keys if k > marker)
    assert "data/\U00010000b.txt" in got


def test_fake_client_delimiter_astral_keys_terminate():
    """Direct FakeS3Client regression: Delimiter grouping over keys with
    astral-plane code points must terminate and emit every group + key.
    The old ``cp + '\\uffff'`` group-skip sentinel looped forever here
    (astral keys sort above U+FFFF), and the ``hi`` bound silently
    dropped astral keys from prefix listings."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    keys = [
        "data/\U00010000grp/a.txt",
        "data/\U00010000grp/b.txt",
        "data/plain.txt",
        "data/sub/\U0010FFFFx.txt",
        "data/sub/y.txt",
        "data/\U0010FFFF",  # max code point, ungrouped
    ]
    c = FakeS3Client({"b": {k: (1, t) for k in keys}})

    resp = c.list_objects_v2(Bucket="b", Prefix="data/", Delimiter="/")
    got_prefixes = sorted(p["Prefix"] for p in resp["CommonPrefixes"])
    got_keys = sorted(o["Key"] for o in resp["Contents"])
    assert got_prefixes == ["data/sub/", "data/\U00010000grp/"]
    assert got_keys == ["data/plain.txt", "data/\U0010FFFF"]

    # Prefix bound must include astral keys (line-41 sibling defect).
    resp2 = c.list_objects_v2(Bucket="b", Prefix="data/\U00010000grp/")
    assert sorted(o["Key"] for o in resp2["Contents"]) == keys[:2]

    # Pagination across astral groups must also terminate and cover all.
    seen, token = [], ""
    for _ in range(20):
        kw = dict(Bucket="b", Prefix="data/", Delimiter="/", MaxKeys=1)
        if token:
            kw["ContinuationToken"] = token
        r = c.list_objects_v2(**kw)
        seen += [p["Prefix"] for p in r["CommonPrefixes"]]
        seen += [o["Key"] for o in r["Contents"]]
        if not r["IsTruncated"]:
            break
        token = r["NextContinuationToken"]
    else:
        raise AssertionError("pagination did not terminate")
    assert sorted(seen) == sorted(set(got_prefixes + got_keys))
