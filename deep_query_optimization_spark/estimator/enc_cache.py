"""Disk cache for plan encodings.

Encoding a corpus for training costs one Spark analysis round-trip per
query (``engine.encode_sql`` / ``encode_sql_tree`` go through
``spark.sql(...).queryExecution().optimizedPlan()``) — ~600 s for the
9k-row augmented clean corpus, paid identically by every trainer
process and again by every fine-tune / sweep / calibration run. The
encodings are pure functions of (sql, stats snapshot, encoder layout),
so a content-addressed cache turns every rerun after the first into a
dict lookup.

Invalidation: the cache stores a signature (schema.json digest +
encoder width). A mismatch drops the whole cache — stale stats silently
shifting selectivity features is exactly the bug class this must never
introduce.

Concurrency: parallel trainer processes may save concurrently; writes
go through temp + ``os.replace`` so readers never see a torn file, and
last-writer-wins is safe because identical keys map to identical
values.

Layering: this disk cache wraps ``engine.encode_sql`` /
``encode_sql_tree``, which have an in-memory, per-engine LRU memo of
their own (``DQOEngine.encode_cache_info()``). The memo sits under this
cache: it saves repeated round-trips within one process and is dropped
on every re-snapshot; this cache persists across processes.

Opt in via ``DQO_ENC_CACHE=<path>`` in the training tools.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from pathlib import Path


def schema_signature(schema_path: str | Path, encoder_width: int) -> str:
    h = hashlib.md5()
    p = Path(schema_path)
    if p.exists():
        h.update(p.read_bytes())
    h.update(str(encoder_width).encode())
    return h.hexdigest()


class EncodingCache:
    def __init__(self, path: str | Path, signature: str):
        self.path = Path(path)
        self.signature = signature
        self.data: dict[tuple[str, str], object] = {}
        self.hits = 0
        self.misses = 0
        self._dirty = False
        if self.path.exists():
            try:
                with open(self.path, "rb") as f:
                    blob = pickle.load(f)
                if blob.get("signature") == signature:
                    self.data = blob["data"]
                else:
                    print(
                        f"encoding cache {self.path}: signature mismatch "
                        "(stats or encoder changed) — starting fresh"
                    )
            except Exception as e:  # torn/corrupt cache = just a miss
                print(f"encoding cache {self.path}: unreadable ({e}) — starting fresh")

    def get(self, kind: str, sql: str, fn):
        key = (kind, sql)
        if key in self.data:
            self.hits += 1
            return self.data[key]
        self.misses += 1
        val = fn(sql)
        self.data[key] = val
        self._dirty = True
        return val

    def wrap(self, kind: str, fn):
        """A drop-in replacement for ``fn(sql)`` that consults the cache."""
        return lambda sql: self.get(kind, sql, fn)

    def save(self) -> None:
        if not self._dirty:
            return
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(self.path.suffix + f".tmp{os.getpid()}")
        with open(tmp, "wb") as f:
            pickle.dump({"signature": self.signature, "data": self.data}, f, protocol=5)
        os.replace(tmp, self.path)
        self._dirty = False

    def stats(self) -> str:
        return f"{self.hits} hits / {self.misses} misses ({len(self.data)} entries)"


def from_env(schema_path: str | Path, encoder_width: int) -> EncodingCache | None:
    """Build a cache iff ``DQO_ENC_CACHE`` is set."""
    path = os.environ.get("DQO_ENC_CACHE")
    if not path:
        return None
    return EncodingCache(path, schema_signature(schema_path, encoder_width))
