"""Parallel S3 object-listing connector (reference operators S1/S2/R1/
C1/C2 — /root/reference/src/main.rs:86-118, 187-257, 294-319).

The reference lists serially: one tokio task, 1000 keys per round trip
(main.rs:187-257) — its throughput ceiling is ~page_size/RTT.  Here the
keyspace is split into shards (delimiter-discovered common prefixes)
and each Spark task pages through its own shard with an independent
client, so listing throughput scales with executor count instead of
being pinned to one connection.  This is the single biggest scale win
over the reference (SURVEY.md §4, "serial listing" anti-pattern row).

Dataflow::

    discover_shards (driver, few API calls)
        → spark.createDataFrame(shards)          # tiny
        → repartition(n_shards)                  # one task per shard
        → mapInPandas(page through shard)        # bounded memory: one
                                                 #   page → one batch
        → listing DataFrame(key, size, last_modified, etag, storage_class)
        → derive_manifest(...)                   # manifest/core.py

boto3 is import-gated (not in this container): pass any picklable
zero-arg ``client_factory`` returning an object with ``list_objects_v2``
(see sources.fake_s3 for the test double with real S3 pagination
semantics).
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Listing rows mirror rusoto_s3::Object's consumed fields (main.rs:209,
#: 361-390) — nullable, RFC3339 string mtime, exactly what
#: derive_manifest expects.
LISTING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("last_modified", T.StringType(), True),
        T.StructField("etag", T.StringType(), True),
        T.StructField("storage_class", T.StringType(), True),
    ]
)

PAGE_SIZE = 1000  # the reference's max_keys (main.rs:192)


def parse_s3_uri(uri: str) -> tuple[str, str]:
    """``s3://bucket/prefix`` → (bucket, prefix) — main.rs:86-104."""
    if not uri.startswith("s3://"):
        raise ValueError(f"not an s3 uri: {uri!r}")
    rest = uri[len("s3://"):]
    if not rest or rest.startswith("/"):
        raise ValueError(f"missing bucket in {uri!r}")
    bucket, _, prefix = rest.partition("/")
    return bucket, prefix


def parse_output_location(output: str) -> tuple[str | None, str]:
    """Output arg → (bucket | None, path/key) — main.rs:106-118."""
    if output.startswith("s3://"):
        bucket, key = parse_s3_uri(output)
        if not key:
            raise ValueError(f"missing key in output {output!r}")
        return bucket, key
    return None, output


def make_boto3_client_factory(
    endpoint_url: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    region: str | None = None,
    max_attempts: int = 3,
) -> Callable[[], object]:
    """Picklable boto3 client factory mirroring the reference's client
    config (custom endpoint, static-or-default credential chain,
    3-attempt adaptive retry — main.rs:174, 294-319).  Import-gated:
    raises only when actually called without boto3 installed."""

    def factory():
        import boto3  # gated: not available in every environment
        from botocore.config import Config

        kwargs: dict = {
            "config": Config(retries={"mode": "adaptive", "max_attempts": max_attempts})
        }
        if endpoint_url:
            kwargs["endpoint_url"] = endpoint_url
        if region:
            kwargs["region_name"] = region
        if access_key and secret_key:
            # both provided → static creds; else default provider chain
            # (matches main.rs:303-312)
            kwargs["aws_access_key_id"] = access_key
            kwargs["aws_secret_access_key"] = secret_key
        return boto3.client("s3", **kwargs)

    return factory


#: S3 error codes that name a throttle or a server fault — worth a
#: retry.  Any other code (AccessDenied, NoSuchBucket, ...) is terminal.
_RETRYABLE_CODES = frozenset(
    {
        "SlowDown",
        "Throttling",
        "ThrottlingException",
        "RequestLimitExceeded",
        "RequestThrottled",
        "TooManyRequestsException",
        "InternalError",
        "ServiceUnavailable",
        "RequestTimeout",
    }
)


def _retryable(exc: Exception) -> bool:
    """Throttles, server faults (5xx) and transport faults are
    retryable; everything else — terminal S3 errors and programming
    errors alike — is not.  The S3 error code is read from a botocore
    ``ClientError``'s ``response`` or, for other clients, ``exc.code``."""
    if isinstance(exc, (ConnectionError, TimeoutError)):
        return True
    response = getattr(exc, "response", None)
    if isinstance(response, dict):
        if response.get("ResponseMetadata", {}).get("HTTPStatusCode", 0) >= 500:
            return True
        code = response.get("Error", {}).get("Code")
    else:
        code = getattr(exc, "code", None)
    return code in _RETRYABLE_CODES


def _retry(fn, attempts: int = 3, base_ms: int = 100):
    """Exponential backoff + jitter around an API call (main.rs:174,
    196-206) for retryable faults only (:func:`_retryable`); a terminal
    error raises on the first attempt.  boto3 retries transport errors
    itself; this guards non-boto clients and throttling responses
    uniformly."""
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:
            if attempt == attempts - 1 or not _retryable(exc):
                raise
            delay = (base_ms / 1000.0) * (2**attempt) * (0.5 + random.random())
            time.sleep(delay)


def discover_shards(
    client,
    bucket: str,
    prefix: str = "",
    delimiter: str = "/",
    target_shards: int = 64,
    max_rounds: int = 3,
    max_workers: int = 16,
) -> tuple[list[str], list[dict]]:
    """Split the keyspace under ``prefix`` into disjoint shard prefixes
    via delimiter listings (S3 CommonPrefixes), BFS-expanding until
    ``target_shards`` is reached or nothing expands.

    Each BFS level's prefixes are listed CONCURRENTLY on a driver
    thread pool (boto3 clients are thread-safe; the calls are pure
    I/O waits) — a level with N prefixes costs ~1 round-trip instead
    of N.  Results are re-assembled in frontier order so shard
    discovery stays deterministic.

    Returns (shard_prefixes, direct_objects): objects that live at a
    listed level (not under any returned shard) come back as rows so
    coverage is exact — every key is in exactly one shard or in
    direct_objects.
    """
    from concurrent.futures import ThreadPoolExecutor

    def list_level(p: str) -> tuple[list[str], list[dict]]:
        token = None
        children: list[str] = []
        objs: list[dict] = []
        while True:
            kw = {
                "Bucket": bucket,
                "Prefix": p,
                "Delimiter": delimiter,
                "MaxKeys": PAGE_SIZE,
            }
            if token:
                kw["ContinuationToken"] = token
            resp = _retry(lambda: client.list_objects_v2(**kw))
            objs.extend(resp.get("Contents", []))
            children.extend(cp["Prefix"] for cp in resp.get("CommonPrefixes", []))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return children, objs

    shards: list[str] = []
    direct: list[dict] = []
    frontier = [prefix]
    for _ in range(max_rounds):
        if not frontier:
            break
        if len(frontier) == 1:
            results = [list_level(frontier[0])]
        else:
            with ThreadPoolExecutor(
                max_workers=min(max_workers, len(frontier))
            ) as pool:
                # pool.map preserves frontier order → deterministic shards
                results = list(pool.map(list_level, frontier))
        next_frontier: list[str] = []
        for children, objs in results:
            direct.extend(objs)
            next_frontier.extend(children)
        if len(shards) + len(next_frontier) >= target_shards or not next_frontier:
            shards.extend(next_frontier)
            frontier = []
        else:
            # not enough parallelism yet — expand one more level
            frontier = next_frontier
    shards.extend(frontier)
    return shards, direct


def _obj_to_row(obj: dict) -> dict:
    lm = obj.get("LastModified")
    return {
        "key": obj.get("Key"),
        "size": obj.get("Size"),
        "last_modified": lm.isoformat() if hasattr(lm, "isoformat") else lm,
        "etag": obj.get("ETag"),
        "storage_class": obj.get("StorageClass"),
    }


def list_objects_df(
    spark: SparkSession,
    bucket: str,
    prefix: str = "",
    client_factory: Callable[[], object] | None = None,
    delimiter: str = "/",
    target_shards: int = 64,
    page_size: int = PAGE_SIZE,
    progress=None,
    start_after: str = "",
) -> DataFrame:
    """Listing DataFrame over ``s3://bucket/prefix``, parallel by shard.

    The prefix predicate is pushed into the API request itself (S2,
    main.rs:190).  Each task holds at most one page (``page_size``
    rows) plus one Arrow batch in memory, mirroring the reference's
    bounded-buffer flush loop (main.rs:236-246) but N-wide.

    ``progress`` (a :class:`~s3_manifest_spark.manifest.progress.
    ListingProgress`) gets its accumulator incremented once per listed
    page — the live spinner's data feed (U1, main.rs:176-183).

    ``start_after`` makes the listing INCREMENTAL: only keys strictly
    greater than the marker are returned (S3 ``StartAfter``, pushed
    into the API like the prefix).  Feed it the previous manifest's
    ``max(Key)`` and only the tail of the keyspace is ever listed —
    shards whose entire key range sorts at or below the marker are
    skipped without a single API call, so a mostly-unchanged bucket
    costs O(new keys / page) round-trips, not O(bucket).  Composes
    with the CDC apply (``operators/manifest_queries.py``) for
    incremental manifest maintenance.  Note: S3 keys are append-sorted
    only by name — this captures keys ABOVE the marker, the common
    log/date-partitioned layout; arbitrary inserts need the full
    listing + ``manifest_diff``.
    """
    client_factory = client_factory or make_boto3_client_factory()
    driver_client = client_factory()
    shards, direct = discover_shards(
        driver_client, bucket, prefix, delimiter, target_shards
    )
    if start_after:
        # Every key in a shard starts with the shard prefix p.  ALL of
        # them sort at or below the marker — i.e. the shard is safe to
        # skip with zero API calls — exactly when p < marker AND p is
        # not itself a prefix of the marker (if it were, keys like
        # p + <high codepoint> could still exceed the marker).  This
        # rule is exact for arbitrary Unicode keys; an upper-bound
        # sentinel like p+"￿" would wrongly skip shards holding
        # astral-plane (> U+FFFF) keys.
        shards = [
            p
            for p in shards
            if not (p < start_after and not start_after.startswith(p))
        ]
        direct = [
            o for o in direct if (o.get("Key") or "") > start_after
        ]
    # Only the accumulator crosses into the task closure (it pickles by
    # reference); the progress object's thread/stream stay driver-side.
    acc = progress.accumulator if progress is not None else None

    def list_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()  # one client per task, never pickled
        for pdf in batches:
            for shard in pdf["shard"]:
                token = None
                while True:
                    kw = {"Bucket": bucket, "Prefix": shard, "MaxKeys": page_size}
                    if start_after and not token:
                        kw["StartAfter"] = start_after
                    if token:
                        kw["ContinuationToken"] = token
                    resp = _retry(lambda: client.list_objects_v2(**kw))
                    contents = resp.get("Contents", [])
                    if contents:
                        if acc is not None:
                            acc.add(len(contents))
                        yield pd.DataFrame([_obj_to_row(o) for o in contents])
                    if not resp.get("IsTruncated"):
                        break
                    token = resp.get("NextContinuationToken")

    parts = []
    if shards:
        shard_df = spark.createDataFrame(
            [(s,) for s in shards], T.StructType([T.StructField("shard", T.StringType())])
        ).repartition(len(shards), "shard")
        parts.append(shard_df.mapInPandas(list_shard, schema=LISTING_SCHEMA))
    if direct:
        if acc is not None:
            acc.add(len(direct))  # discovered driver-side, count them too
        parts.append(
            spark.createDataFrame([_obj_to_row(o) for o in direct], LISTING_SCHEMA)
        )
    if not parts:
        return spark.createDataFrame([], LISTING_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def manifest_from_s3(
    spark: SparkSession,
    source_uri: str,
    output: str | None = None,
    delimiter: str = "/",
    client_factory: Callable[[], object] | None = None,
    target_shards: int = 64,
    observation=None,
    single_object: bool = False,
    progress=None,
    start_after: str = "",
    dest_client_factory: Callable[[], object] | None = None,
) -> DataFrame:
    """The reference CLI's whole job (main.rs:120-292): list → derive
    manifest → optionally write parquet.  S3 output prefers the
    s3a:// filesystem (streaming multipart upload — fixes the
    whole-file-in-RAM defect at main.rs:327-329); when hadoop-aws is
    not on the JVM classpath it falls back to the executor-side boto3
    multipart sink (:mod:`s3_manifest_spark.sources.s3_upload`), which
    is the same per-task streaming shape without the jar — so
    ``output="s3://…"`` works on every install.

    ``dest_client_factory`` binds the DESTINATION endpoint/credentials
    (the reference's separate dest client, C1, main.rs:294-319).
    Passing it explicitly SELECTS the boto3 sink even when hadoop-aws
    is present — an explicit argument must not be silently ignored in
    favor of whatever ambient ``fs.s3a.*`` conf the classpath
    implies (s3a callers configure per-bucket conf instead, as the
    CLI does).  When unset and the boto3 leg runs anyway (no
    hadoop-aws), the dest client is the boto3 DEFAULT CHAIN — the
    reference's defaulting for a missing dest config (main.rs:294-319)
    — never the source-bound factory, whose endpoint override would
    silently point the upload at the source endpoint.

    Pass a ``pyspark.sql.Observation`` to collect the reference's run
    stats (object count / total bytes, main.rs:231, 284-289) from the
    SAME job that writes the output — a follow-up ``count()`` would
    re-list the entire bucket.
    """
    from pyspark.sql import functions as F

    from s3_manifest_spark.manifest.core import derive_manifest, write_manifest

    bucket, prefix = parse_s3_uri(source_uri)
    listing = list_objects_df(
        spark, bucket, prefix, client_factory, delimiter, target_shards,
        progress=progress, start_after=start_after,
    )
    manifest = derive_manifest(listing, bucket, prefix, delimiter)
    if observation is not None:
        manifest = manifest.observe(
            observation,
            F.count(F.lit(1)).alias("objects"),
            F.coalesce(F.sum("Size"), F.lit(0)).alias("total_bytes"),
        )
    if output is not None:
        out_bucket, path = parse_output_location(output)
        if out_bucket:
            from s3_manifest_spark.sources.s3_upload import (
                s3a_available,
                upload_parquet_boto3,
            )

            if dest_client_factory is None and s3a_available(spark):
                write_manifest(
                    manifest,
                    f"s3a://{out_bucket}/{path}",
                    single_object=single_object,
                )
            else:
                upload_parquet_boto3(
                    manifest,
                    out_bucket,
                    path,
                    client_factory=dest_client_factory,
                    single_object=single_object,
                )
        else:
            write_manifest(manifest, path, single_object=single_object)
    return manifest
