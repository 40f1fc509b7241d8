"""Result materialization keyed by config hash, with TTL + duplicate-work
suppression (SURVEY.md §4.3.1).

Mirrors the reference's Redis cache/lock semantics
(``run_queries_with_cache``, reference ``connectors.py:367-452``): result
keyed by the config's md5 (30-day TTL), a not-exists lock with its own TTL
so concurrent identical queries compute once.  Here the store is Parquet +
a JSON sidecar; the lock is a lockfile hard-linked into place with its
timestamp already written, so no contender ever reads an empty lock as
stale.  On a cluster the same layout works on any shared filesystem
that supports hard links.

The sidecar ``<key>.meta.json`` holds ``created_at`` (the clock at fill,
for the TTL), ``key`` and ``schema`` (the result's ``StructType`` as
JSON).  Every stored result is read with that schema, so a hit builds
its frame without Spark's Parquet schema-inference job (which reads the
footers in a job of its own) and runs exactly one job, the caller's
action.  The read schema equals the inferred one: Spark makes every
field of a file source nullable either way.  A sidecar without
``schema`` is a miss: the result is computed again and the sidecar
rewritten.  Sidecars are written to a temporary file and renamed into
place, so a polling caller or ``evict_expired`` never reads half of one.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_TTL_SECONDS = 60 * 60 * 24 * 30  # reference connectors.py:381
LOCK_TTL_SECONDS = 3600  # reference connectors.py:416


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, obj: dict) -> None:
    # temp file + rename: a reader sees the old file or the whole new one
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _read_stored(spark: SparkSession, path: str, schema: dict) -> DataFrame:
    return spark.read.schema(StructType.fromJson(schema)).parquet(path)


class ResultCache:
    def __init__(
        self,
        root: str,
        ttl_seconds: int = DEFAULT_TTL_SECONDS,
        clock: Callable[[], float] = time.time,
    ):
        self.root = root
        self.ttl_seconds = ttl_seconds
        self.clock = clock  # injectable for deterministic tests
        os.makedirs(root, exist_ok=True)

    def _paths(self, key: str) -> tuple[str, str, str]:
        base = os.path.join(self.root, key)
        return base, base + ".meta.json", base + ".lock"

    def lookup(self, spark: SparkSession, key: str) -> DataFrame | None:
        path, meta, _ = self._paths(key)
        try:
            sidecar = _read_json(meta)
            created, schema = sidecar["created_at"], sidecar["schema"]
        except (ValueError, KeyError, OSError):
            return None
        if self.clock() - created > self.ttl_seconds:
            return None
        return _read_stored(spark, path, schema)

    def _acquire_lock(self, lock: str) -> bool:
        # nx-with-expiry semantics: a stale lockfile (older than the lock
        # TTL) is broken, mirroring Redis set(nx=True, ex=3600)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(str(self.clock()))
        try:
            os.link(tmp, lock)  # fails if held; never exposes an empty lock
            return True
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
        try:
            with open(lock) as f:
                held_since = float(f.read())
        except (OSError, ValueError):
            held_since = 0.0
        if self.clock() - held_since > LOCK_TTL_SECONDS:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass
            return self._acquire_lock(lock)
        return False

    def get_or_compute(
        self,
        spark: SparkSession,
        key: str,
        compute: Callable[[], DataFrame],
        force_refresh: bool = False,
        wait_poll_seconds: float = 0.2,
        wait_timeout_seconds: float = 60.0,
    ) -> DataFrame:
        """Cache hit -> stored result; miss -> single-flight compute +
        materialize.  A losing concurrent caller polls for the winner's
        result (reference poll loop, ``connectors.py:444-449``)."""
        if not force_refresh:
            hit = self.lookup(spark, key)
            if hit is not None:
                return hit
        path, meta, lock = self._paths(key)
        if self._acquire_lock(lock):
            try:
                df = compute()
                df.write.mode("overwrite").parquet(path)
                schema = df.schema.jsonValue()
                _write_json(
                    meta, {"created_at": self.clock(), "key": key, "schema": schema}
                )
            finally:
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
            return _read_stored(spark, path, schema)
        deadline = self.clock() + wait_timeout_seconds
        while self.clock() < deadline:
            hit = self.lookup(spark, key)
            if hit is not None:
                return hit
            time.sleep(wait_poll_seconds)
        raise TimeoutError(f"cache wait timed out for key {key}")

    def evict_expired(self) -> list[str]:
        """Delete expired materializations (TTL housekeeping the reference
        delegates to Redis expiry); returns the evicted keys."""
        import shutil

        evicted = []
        for meta_name in os.listdir(self.root):
            if not meta_name.endswith(".meta.json"):
                continue
            key = meta_name[: -len(".meta.json")]
            path, meta, _ = self._paths(key)
            try:
                created = _read_json(meta)["created_at"]
            except (ValueError, KeyError, OSError):
                created = 0
            if self.clock() - created > self.ttl_seconds:
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.unlink(meta)
                except FileNotFoundError:
                    pass
                evicted.append(key)
        return evicted
