"""Benchmark-owned object-store factory.

``BenchStoreFactory`` is a ``StoreFactory`` whose stores put every key into
one ``LocalFSObjectStore`` bucket. Keys containing one of the ``transient``
substrings go through a ``LocalFSObjectStore`` with that substring's failure
budget, so a seeded share of keys fails once or twice before it succeeds
(the program's own failure injection, nothing re-implemented). With
``stats_dir`` set, each store writes its PUT count, bytes, failures and busy
seconds to one JSON file there when the upload task closes it.

This module is imported by the Spark Python workers, so it depends only on
the program package and the standard library.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from swiftbulkuploader_spark.sources.objectstore import LocalFSObjectStore, StoreFactory


class BenchStoreFactory(StoreFactory):
    def __init__(self, root: str, transient: dict[str, int] | None = None,
                 stats_dir: str | None = None):
        super().__init__("localfs", root=root)
        self.transient = dict(transient or {})
        self.stats_dir = stats_dir

    def build(self) -> _BenchStore:
        return _BenchStore(self.kwargs["root"], self.transient, self.stats_dir)


class _BenchStore(LocalFSObjectStore):
    def __init__(self, root: str, transient: dict[str, int], stats_dir: str | None):
        super().__init__(root)
        self._failing = [LocalFSObjectStore(root, fail_substring=s, fail_times=n)
                         for s, n in transient.items()]
        self._stats_dir = stats_dir
        self._stats = {"puts": 0, "bytes": 0, "fails": 0, "busy_s": 0.0}

    def put(self, key: str, data: bytes) -> None:
        store = next((s for s in self._failing if s.fail_substring in key), None)
        t0 = time.perf_counter()
        try:
            LocalFSObjectStore.put(store or self, key, data)
        except Exception:
            self._stats["fails"] += 1
            raise
        finally:
            self._stats["busy_s"] += time.perf_counter() - t0
        self._stats["puts"] += 1
        self._stats["bytes"] += len(data)

    def close(self) -> None:
        if self._stats_dir:
            path = os.path.join(self._stats_dir, f"{uuid.uuid4().hex}.json")
            with open(path, "w") as fh:
                json.dump(self._stats, fh)


def read_stats(stats_dir: str) -> dict:
    """Sum the per-task files a traced pass left in ``stats_dir``."""
    total = {"puts": 0, "bytes": 0, "fails": 0, "busy_s": 0.0, "tasks": 0}
    for name in os.listdir(stats_dir):
        with open(os.path.join(stats_dir, name)) as fh:
            part = json.load(fh)
        for k in part:
            total[k] += part[k]
        total["tasks"] += 1
    return total
