"""Seeded input generators for the benchmark, and the expected values
the benchmark checks each op's output against.

Everything here is plain numpy/pyarrow: no Spark, so generating inputs
never touches the program under test and the expected values are
derived independently of it. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIB = 1024 * 1024
CAP = 750 * MIB  # the compaction target the diagnostics bin-pack against

# --------------------------------------------------------------------
# diag: `.files`-shaped tables (partition_key, file_size_in_bytes,
# content, and added_at on every other table)
# --------------------------------------------------------------------

# (file rows, partitions, delete-file share) per table. The schedule is
# fixed so that every seed does the same amount of work; the seed moves
# the Zipf draw, the sizes and the timestamps.
DIAG_TABLES = [
    (10_000, 1, 0.0),
    (30_000, 250, 0.40),
    (60_000, 800, 0.15),
]


def _zipf_partitions(rng, n_rows: int, n_parts: int) -> np.ndarray:
    """Partition index per row, Zipf-skewed (s=1.1), with every
    partition holding at least one row."""
    w = 1.0 / np.arange(1, n_parts + 1) ** 1.1
    idx = rng.choice(n_parts, size=n_rows - n_parts, p=w / w.sum())
    return rng.permutation(np.concatenate([np.arange(n_parts), idx]))


def _files_table(rng, n_rows: int, n_parts: int, delete_share: float,
                 with_added_at: bool) -> pa.Table:
    part = _zipf_partitions(rng, n_rows, n_parts)
    is_delete = rng.random(n_rows) < delete_share
    content = np.where(is_delete, rng.integers(1, 3, n_rows), 0).astype("int32")
    data_sz = rng.lognormal(np.log(24 * MIB), 1.3, n_rows)
    del_sz = rng.lognormal(np.log(2 * MIB), 1.0, n_rows)
    sizes = np.clip(np.where(is_delete, del_sz, data_sz), 1024, 2048 * MIB)
    cols = {
        "partition_key": pa.array([f"day={p:05d}" for p in part]),
        "file_size_in_bytes": pa.array(sizes.astype("int64")),
        "content": pa.array(content),
    }
    if with_added_at:
        base = np.datetime64("2026-01-01T00:00:00", "us")
        offs = rng.integers(0, 400 * 86_400, n_rows) * 1_000_000
        cols["added_at"] = pa.array(base - offs.astype("timedelta64[us]"),
                                    type=pa.timestamp("us", tz="UTC"))
    return pa.table(cols)


def expected_panel(table: pa.Table) -> dict:
    """What the diagnostics panel must show for a files table:
    file count, partition count, total size, and the bin-packed
    after-count (check-before-append fold over each partition's DATA
    file sizes, ascending)."""
    keys = np.asarray(table.column("partition_key").to_pylist())
    sizes = table.column("file_size_in_bytes").to_numpy()
    content = table.column("content").to_numpy()
    uniq, inv = np.unique(keys, return_inverse=True)
    data = content == 0
    order = np.lexsort((sizes[data], inv[data]))
    d_part, d_size = inv[data][order], sizes[data][order]
    after = 0
    bounds = np.flatnonzero(np.diff(d_part)) + 1
    for grp in np.split(d_size, bounds) if d_size.size else []:
        total = 0
        groups = 1
        for s in grp.tolist():
            if total > CAP:
                groups += 1
                total = 0
            total += s
        after += groups
    return {
        "Total File Count": (str(len(keys)), str(after)),
        "Total Partitions": (str(len(uniq)), ""),
        "Total Table Size": (format_size(int(sizes.sum())), ""),
    }


def format_size(n: int) -> str:
    """bytes → '1.21 GB' the way the display layer renders it
    (÷1024 ladder, two decimals rounded half-up, PB terminal)."""
    units = ["B", "KB", "MB", "GB", "TB", "PB"]
    for i, unit in enumerate(units):
        scaled = n / 1024.0**i
        if scaled < 1024.0 or unit == units[-1]:
            q = Decimal(scaled).quantize(Decimal("0.01"), ROUND_HALF_UP)
            return f"{q} {unit}"
    raise AssertionError("unreachable")


def make_diag(root: str, seed: int) -> list[dict]:
    """Write the diag tables under root; return one dict per table with
    its path, manifest count and expected panel values."""
    rng = np.random.default_rng(seed)
    out = []
    os.makedirs(root, exist_ok=True)
    for i, (n_rows, n_parts, share) in enumerate(DIAG_TABLES):
        t = _files_table(rng, n_rows, n_parts, share, with_added_at=i % 2 == 0)
        path = os.path.join(root, f"files_{i:02d}.parquet")
        pq.write_table(t, path)
        out.append({
            "path": path,
            "manifests": int(rng.integers(1, 200)),
            "expected": expected_panel(t),
        })
    return out


# --------------------------------------------------------------------
# corpus: a documents table shaped like the sf0.1 one (30-word
# vocabulary, 10-100 words, a 'dup' marker on ~5%), plus planted
# near-duplicates so the near-dup ops have pairs to find. Fixed, not
# seeded: the registry ops over it are checked against recorded digests.
# --------------------------------------------------------------------

CORPUS_SEED = 20261017
CORPUS_DOCS = 2_000
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]


def make_corpus(root: str, n_docs: int = CORPUS_DOCS) -> str:
    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 101))))
            if rng.random() < 0.05:
                words.append("dup")
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[int(x)] for x in rng.integers(0, 16, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(table, os.path.join(root, "documents.parquet"))
    return root


# --------------------------------------------------------------------
# maintain: fragmented Hive layouts partition_key=P/file_id=K for the
# bin-pack compaction sink, and an arrival-order file_id=K layout for
# the clustering sink
# --------------------------------------------------------------------

COMPACTION_READ_SCHEMA = (
    "row_key string, row_bytes long, file_id long, partition_key string"
)
CLUSTER_READ_SCHEMA = "row_key string, v long, file_id long"
CLUSTER_ROWS_PER_FILE = 1024

# The compaction plan leaves an already-compacted partition untouched,
# so COMPACTED_SHARE of the partitions exercise the surgical path.
COMPACTION_PARTITIONS = 12
COMPACTED_SHARE = 0.4
CLUSTER_ROWS = 12_000
CLUSTER_ARRIVAL_FILES = 40


def member_hash60(key: str, salt: str = "") -> int:
    """The package's membership hash: the first 15 hex digits of md5."""
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:15], 16)


def _digests(keys) -> tuple[int, int]:
    x1 = x2 = 0
    for k in keys:
        x1 ^= member_hash60(k)
        x2 ^= member_hash60(k, "m2|")
    return x1, x2


def _write_leaf(path: str, cols: dict) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))


def _compaction_layout(rng, root: str, n_parts: int,
                       compacted_share: float) -> dict:
    n_done = int(round(n_parts * compacted_share))
    done = set(rng.choice(n_parts, n_done, replace=False).tolist())
    parts = {}
    for p in range(n_parts):
        pkey = f"p{p:02d}"
        if p in done:
            # every file is over the cap, so the plan cannot merge any
            n_files = int(rng.integers(1, 4))
            file_mib = rng.uniform(800, 1500, n_files)
        else:
            n_files = int(rng.integers(4, 19))
            file_mib = rng.uniform(20, 240, n_files)
        keys = []
        for f in range(n_files):
            n_rows = int(rng.integers(20, 101))
            rk = [f"{pkey}/{f}/{r}" for r in range(n_rows)]
            per_row = int(file_mib[f] * MIB) // n_rows
            _write_leaf(
                os.path.join(root, f"partition_key={pkey}", f"file_id={f}"),
                {"row_key": pa.array(rk),
                 "row_bytes": pa.array(np.full(n_rows, per_row, "int64"))},
            )
            keys += rk
        parts[pkey] = {"rows": len(keys), "digests": _digests(keys),
                       "compacted": p not in done}
    return {"path": root, "partitions": parts}


def _cluster_layout(rng, root: str, n_rows: int, n_files: int) -> dict:
    keys = [f"c{i:06d}" for i in range(n_rows)]
    v = rng.integers(0, 3_000, n_rows)
    file_id = np.arange(n_rows) * n_files // n_rows
    for f in range(n_files):
        sel = np.flatnonzero(file_id == f)
        _write_leaf(
            os.path.join(root, f"file_id={f}"),
            {"row_key": pa.array([keys[i] for i in sel]),
             "v": pa.array(v[sel].astype("int64"))},
        )
    return {"path": root, "rows": n_rows, "digests": _digests(keys),
            "files_after": -(-n_rows // CLUSTER_ROWS_PER_FILE)}


def make_maintain(root: str, seed: int) -> dict:
    """Pristine layouts under root (copied to a live directory before
    every pass), with the row counts and digests their ledgers must show."""
    rng = np.random.default_rng(seed)
    return {
        "compaction": _compaction_layout(
            rng, os.path.join(root, "compaction"), COMPACTION_PARTITIONS,
            COMPACTED_SHARE),
        "cluster": _cluster_layout(
            rng, os.path.join(root, "cluster"), CLUSTER_ROWS,
            CLUSTER_ARRIVAL_FILES),
    }


def tree_bytes(path: str) -> int:
    """On-disk bytes of every regular file under path (or of path)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    ]
