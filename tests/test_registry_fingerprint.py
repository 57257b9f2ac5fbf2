"""The registry fingerprint: a hash of every entry's name, oracle SQL
and description. Any edit to an oracle or a description moves it, so
a change that must leave the registry alone is checked here rather
than by re-deriving the hash by hand. Needs no Spark session."""

from __future__ import annotations

import hashlib

from iceberg_diag_spark.plans.registry import REGISTRY

FINGERPRINT = "ce29316856a432c11ba434d80a2a8f53942268214578b72b172e6ea58f935a35"


def registry_fingerprint() -> str:
    h = hashlib.sha256()
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        h.update(repr((name, (spec.oracle or "").encode(), spec.doc)).encode())
    return h.hexdigest()


def test_registry_fingerprint_pinned():
    assert len(REGISTRY) == 269
    assert registry_fingerprint() == FINGERPRINT
