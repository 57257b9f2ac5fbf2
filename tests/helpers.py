"""Scaffolding shared by several test modules: the corpus-release
writer and the planted increments the release tests build their
fixtures with, and the one-file-at-a-time writer the streaming tests
feed a file stream with. Not a test module; the test modules import
it by name."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from iceberg_diag_spark.operators import funnel

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# the reconcile's pair relation, which the retraction sink consumes
PAIRS_SCHEMA = (
    "batch_a long, doc_a long, batch_b long, doc_b long, "
    "n_shared_bands long, exact_dup boolean"
)

EVENT_ROWS_SCHEMA = (
    "event_id long, ts_s string, user_id long, event_type string, "
    "value double, props string"
)


def write_release(spark, path: str, incs_rows, schema: str = DOCS_SCHEMA):
    """Write each ``(batch_id, rows)`` increment through the package's
    one release writer, ``funnel._write_release``, under
    ``path/batch=<id>``; return the ``(batch_id, docs)`` sequence the
    reconcile and retraction sinks take."""
    incs = []
    for b, rows in incs_rows:
        d = spark.createDataFrame(rows, schema)
        funnel._write_release(d, f"{path}/batch={b}")
        incs.append((b, d))
    return incs


_BASE = (
    "the quick brown fox jumps over a lazy dog and it is widely "
    "known that"
)


def _mk_clean(i0: int, n: int):
    # distinct tails so per-increment exact dedup keeps them all
    rows = []
    for i in range(i0, i0 + n):
        t = f"{_BASE} document number {i} differs in this tail alone {i}"
        rows.append((i, t, "en", "web", len(t)))
    return rows


# planted bodies share no vocabulary with the _mk_clean docs (beyond
# isolated stopwords) so the per-increment funnel cannot collapse a
# planted doc into a clean-doc near-dup component — only the
# deliberate CROSS-increment twins collide
SHARED_NEAR = (
    "many colorful parrots happily narrate obscure maritime legends "
    "while gentle winds carry distant church bells across the quiet "
    "harbor village every autumn evening final token reads"
)
SHARED_EXACT = (
    "byte identical twins routed into separate increments cannot be "
    "seen by per increment exact dedup since each half observes only "
    "its own arrivals during the incremental release"
)
SHARED_LATE = (
    "an entirely different duplicated passage about telescopes "
    "mirrors and the patient craft of grinding glass surfaces to "
    "within a fraction of one wavelength of sodium light"
)


# three increments, each with one copy of SHARED_EXACT
THREE_EXACT = [
    (0, _mk_clean(0, 8) + [(100, SHARED_EXACT, "en", "web", 1)]),
    (1, _mk_clean(1000, 8) + [(1100, SHARED_EXACT, "en", "web", 1)]),
    (2, _mk_clean(2000, 8) + [(2100, SHARED_EXACT, "en", "web", 1)]),
]


def write_one_file(df, base: str, name: str) -> None:
    """Write ``df`` as the single parquet file ``base/name``. A file
    stream lists its directory per trigger, so each file must land
    whole: it is written beside ``base`` and moved in."""
    tmp = base + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(tmp, part), os.path.join(base, name))
    shutil.rmtree(tmp)


def write_event_file(spark, base: str, name: str, rows) -> None:
    """``rows`` in EVENT_ROWS_SCHEMA (a ``ts_s`` wall-clock string) as
    one events file whose ``ts`` is epoch nanoseconds, the layout of
    the events table."""
    df = spark.createDataFrame(rows, EVENT_ROWS_SCHEMA).select(
        "event_id",
        (
            F.unix_timestamp("ts_s", "yyyy-MM-dd HH:mm:ss").cast("long")
            * 1_000_000_000
        ).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    write_one_file(df, base, name)
