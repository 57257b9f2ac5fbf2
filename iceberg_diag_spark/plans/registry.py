"""Query registry: every operator exposed through the driver contract.

Each family module (plans/oracles_*.py) owns its builders, its DuckDB
oracle SQL and one ``REGISTRY.update`` block; importing it registers
its entries. See plans/common.py for the QuerySpec contract and the
cross-engine determinism rules every oracle follows.
"""

from __future__ import annotations

from iceberg_diag_spark.plans.common import REGISTRY  # noqa: F401
from iceberg_diag_spark.plans import (  # noqa: F401
    oracles_diag,
    oracles_maintenance,
    oracles_tpch,
    oracles_events,
    oracles_similarity,
    oracles_dedup,
    oracles_multimodal,
    oracles_corpus,
    oracles_streaming,
)
