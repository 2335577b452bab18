"""Benchmark-owned fake S3 ``list_objects_v2`` server.

Importable by Spark's Python workers (the client factory pickles by
module reference).  Each process builds the seeded bucket once and keeps
its keys as one sorted list, so a page costs O(log n + page) instead of
a copy of the whole keyspace per request.  Every request sleeps a fixed
simulated round trip, and a fixed share of requests, chosen by prefix
and page number, fails once with a retryable throttle.  With a
``stats_dir`` each request appends one JSON line
(``<stats_dir>/<pid>.jsonl``) so the Spark driver can count requests,
retries and server time across worker processes.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import time
import zlib
from bisect import bisect_left, bisect_right
from dataclasses import dataclass

import numpy as np

BUCKET = "bench-bucket"
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class BucketSpec:
    """Shape of the generated keyspace and of the simulated service; the
    values come from ``config.json``."""

    seed: int
    n_keys: int
    n_top: int  # top-level prefixes, Zipf-weighted by rank
    n_sub: int  # second-level prefixes under each top-level prefix
    zipf_s: float  # prefix-size skew exponent
    rtt_ms: float  # simulated round trip of every request
    throttle_per_mille: int  # requests whose crc32(prefix, page) % 1000 is below fail once


class SlowDown(Exception):
    """Retryable throttle, as S3 answers 503 SlowDown."""

    code = "SlowDown"


def _zipf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@functools.lru_cache(maxsize=2)
def build_bucket(spec: BucketSpec) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Sorted keys, sizes (int64) and mtimes (epoch ms) of the bucket.

    Top-level and second-level prefix sizes are both heavy-tailed
    (Zipf by prefix rank), so one listing shard holds far more keys than
    the median shard.  The seed draws the keys, not the shape: every
    seed gives the same prefix sizes in expectation.  A few
    keys sit at the root, a few are directory markers (ending in the
    delimiter, so their file name is empty) and a few carry non-ASCII
    or space characters.
    """
    rng = np.random.default_rng(spec.seed % (1 << 64))
    n_root = 25
    n = spec.n_keys - n_root
    top = rng.choice(spec.n_top, n, p=_zipf(spec.n_top, spec.zipf_s))
    sub = rng.choice(spec.n_sub, n, p=_zipf(spec.n_sub, spec.zipf_s))
    kind = rng.integers(0, 200, n)
    keys: list[str] = []
    for i in range(n):
        base = f"t{top[i]:02d}/d{sub[i]:02d}/"
        k = kind[i]
        if k == 0:
            keys.append(f"{base}m{i:07d}/")
        elif k == 1:
            keys.append(f"{base}part {i:07d} ü.json")
        else:
            keys.append(f"{base}part-{i:07d}.parquet")
    keys.extend(f"root-{i:02d}.txt" for i in range(n_root))
    order = sorted(range(len(keys)), key=keys.__getitem__)
    keys = [keys[i] for i in order]
    sizes = rng.integers(0, 1 << 30, len(keys), dtype=np.int64)
    mtimes = int(EPOCH.timestamp() * 1000) + rng.integers(0, 90 * 86_400_000, len(keys))
    return keys, sizes, mtimes


def _succ(prefix: str) -> str:
    """Exclusive upper bound of the key range that starts with ``prefix``
    (keys here never contain U+10FFFF)."""
    return prefix[:-1] + chr(ord(prefix[-1]) + 1)


class BenchS3Client:
    """ListObjectsV2 over one generated bucket, with RTT and throttles."""

    def __init__(self, spec: BucketSpec, stats_dir: str | None = None, tag: str = ""):
        self._spec = spec
        self._keys, self._sizes, self._mtimes = build_bucket(spec)
        self._rtt_s = spec.rtt_ms / 1000.0
        self._throttled: set[str] = set()
        self._stats_fd = None
        if stats_dir is not None:
            path = os.path.join(stats_dir, f"{os.getpid()}.jsonl")
            self._stats_fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        self._tag = tag

    def __del__(self):
        if self._stats_fd is not None:
            os.close(self._stats_fd)

    def _log(self, rec: dict) -> None:
        if self._stats_fd is not None:
            rec["tag"] = self._tag
            os.write(self._stats_fd, (json.dumps(rec) + "\n").encode())

    def list_objects_v2(self, **kw):
        t0 = time.time()
        prefix = kw.get("Prefix", "")
        delimiter = kw.get("Delimiter")
        token = kw.get("ContinuationToken", "")
        max_keys = kw.get("MaxKeys", 1000)
        time.sleep(self._rtt_s)
        # Throttle by (prefix, page number), not by key content, so the
        # same requests fail on every seed; each fails once, then succeeds.
        page_no = (bisect_left(self._keys, max(prefix, token))
                   - bisect_left(self._keys, prefix)) // max_keys
        ident = f"{prefix}|{delimiter}|{page_no}"
        if (zlib.crc32(ident.encode()) % 1000 < self._spec.throttle_per_mille
                and ident not in self._throttled):
            self._throttled.add(ident)
            self._log({"p": prefix, "d": bool(delimiter), "t0": t0, "t1": time.time(),
                       "n": 0, "throttled": True})
            raise SlowDown(f"throttled: {ident}")
        resp = self._page(prefix, delimiter, token, kw.get("StartAfter", ""), max_keys)
        self._log({"p": prefix, "d": bool(delimiter), "t0": t0, "t1": time.time(),
                   "n": len(resp["Contents"]), "throttled": False})
        return resp

    def _page(self, prefix, delimiter, token, start_after, max_keys):
        keys = self._keys
        lo = bisect_left(keys, max(prefix, token))
        if start_after and not token:
            lo = max(lo, bisect_right(keys, start_after))
        hi = bisect_left(keys, _succ(prefix), lo) if prefix else len(keys)
        contents, common = [], []
        i = lo
        while i < hi and len(contents) + len(common) < max_keys:
            k = keys[i]
            if delimiter:
                d = k.find(delimiter, len(prefix))
                if d >= 0:
                    cp = k[: d + len(delimiter)]
                    common.append({"Prefix": cp})
                    i = max(bisect_left(keys, _succ(cp), i, hi), i + 1)
                    continue
            contents.append({
                "Key": k,
                "Size": int(self._sizes[i]),
                "LastModified": EPOCH + dt.timedelta(
                    milliseconds=int(self._mtimes[i]) - int(EPOCH.timestamp() * 1000)),
            })
            i += 1
        resp = {
            "IsTruncated": i < hi,
            "Contents": contents,
            "CommonPrefixes": common,
            "KeyCount": len(contents) + len(common),
        }
        if i < hi:
            resp["NextContinuationToken"] = keys[i]
        return resp


def client_factory(spec: BucketSpec, stats_dir: str | None = None, tag: str = ""):
    """Picklable zero-argument factory for ``list_objects_df``."""
    return functools.partial(BenchS3Client, spec, stats_dir, tag)
