"""The registry fingerprint: a hash of every entry's name, oracle SQL
and description. Any edit to an oracle or a description moves it, so
a change that must leave the registry alone is checked here rather
than by re-deriving the hash by hand. Needs no Spark session."""

from __future__ import annotations

import hashlib

from iceberg_diag_spark.plans.registry import REGISTRY

FINGERPRINT = "e7daadb40f6f36ab29b5475bec5794c1c8d83c4a970ca2217fee084efe705c28"


def registry_fingerprint() -> str:
    h = hashlib.sha256()
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        h.update(repr((name, (spec.oracle or "").encode(), spec.doc)).encode())
    return h.hexdigest()


def test_registry_fingerprint_pinned():
    assert len(REGISTRY) == 269
    assert registry_fingerprint() == FINGERPRINT
