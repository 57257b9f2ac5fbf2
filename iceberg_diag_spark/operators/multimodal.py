"""Multimodal columns: opaque binary payloads + typed metadata.

The reference has no media handling; this is north-star extension
surface (BASELINE.json: "multimodal columns"). Design per the 100 TB
playbook: media lives in `binary` columns next to typed metadata
structs; per-item decoding runs worker-side as Arrow-batched
mapInPandas so payload bytes never touch the driver; every derived
column is deterministic so results are oracle-checkable.

Since the test corpus has no real media, payloads are derived
deterministically from `documents.text` (UTF-8 bytes) — the SPARK
PLUMBING (binary schema, metadata struct, Arrow batch shape, pandas
UDF signatures, partition behavior) is real and tested; only the
codec call itself is stubbed: `_decode_media` tries the real
libraries (PIL / soundfile — not installed here) and falls back to a
clearly-marked deterministic fake over the raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import ensure_parallelism, materialize

# Columns and tuning constants of the operators below.
BUCKET_WIDTH = 32
DOC_ID = "doc_id"

FRAME_BYTES = 64          # video "frame" granularity in the fake codec
FEATURE_DIM = 16          # decoded feature-vector width
MEDIA_TYPES = ("image", "audio", "video")


def with_media(docs: DataFrame) -> DataFrame:
    """Attach the multimodal column pair: `payload` (opaque binary)
    and `meta` (typed metadata struct), plus a `media_type` tag.
    Everything is a JVM-side expression — no Python in this path, so
    at 100 TB the scan→project stays in whole-stage codegen."""
    payload = F.encode(F.col("text"), "UTF-8")
    byte_len = F.length(payload).cast("long")
    media_type = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.pmod(F.col(DOC_ID), F.lit(3)) + 1).cast("int"),
    )
    meta = F.struct(
        byte_len.alias("byte_len"),
        (32 + F.pmod(F.col(DOC_ID) * 7, F.lit(480))).cast("int").alias("width"),
        (32 + F.pmod(F.col(DOC_ID) * 13, F.lit(360))).cast("int").alias("height"),
        F.element_at(
            F.array(F.lit(8000), F.lit(16000), F.lit(44100)),
            (F.pmod(F.col(DOC_ID), F.lit(3)) + 1).cast("int"),
        ).alias("sample_rate"),
        F.ceil(byte_len / FRAME_BYTES).cast("int").alias("n_frames"),
    )
    return docs.select(
        F.col(DOC_ID),
        media_type.alias("media_type"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def media_catalog(media: DataFrame) -> DataFrame:
    """Flattened per-item metadata + payload fingerprint — the 'list
    what's in the lake' query. md5 over the binary column stays
    JVM-side."""
    return media.select(
        "doc_id",
        "media_type",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_frames").cast("long").alias("n_frames"),
        F.md5("payload").alias("payload_md5"),
    )


def media_type_stats(media: DataFrame) -> DataFrame:
    """Per-modality rollup: one shuffle on a 3-value key (tiny; at
    scale AQE coalesces the post-shuffle partitions)."""
    return media.groupBy("media_type").agg(
        F.count("*").alias("item_count"),
        F.sum("meta.byte_len").alias("total_bytes"),
        F.min("meta.byte_len").alias("min_bytes"),
        F.max("meta.byte_len").alias("max_bytes"),
        F.sum(F.col("meta.n_frames").cast("long")).alias("total_frames"),
    )


def frame_sample(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Sample every k-th FRAME_BYTES-sized frame from each payload —
    the video-keyframe-extraction shape. Pure JVM expressions
    (explode over frame indices + binary substring + md5): frame
    splitting needs no codec, so unlike decode_features it never
    leaves whole-stage codegen — with every_k=1 (frame_dedup's
    default) this path touches every byte of the corpus and a Python
    loop here was its flagged perf weak point. No shuffle at all;
    output is ~1/k of input volume. Emits (doc_id, frame_idx, frame_len,
    frame_md5)."""
    n_frames = F.ceil(
        F.length(F.col("payload")) / F.lit(FRAME_BYTES)
    ).cast("long")
    return (
        ensure_parallelism(media.select("doc_id", "payload"))
        # empty payloads yield no frames (and sequence(0,-1) errors)
        .filter(F.length(F.col("payload")) > 0)
        .select(
            "doc_id",
            "payload",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    n_frames - 1,
                    F.lit(int(every_k)).cast("long"),
                )
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.expr(
                f"substring(payload,"
                f" cast(frame_idx * {FRAME_BYTES} + 1 as int),"
                f" {FRAME_BYTES})"
            ).alias("frame"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.length(F.col("frame")).cast("long").alias("frame_len"),
            F.md5(F.col("frame")).alias("frame_md5"),
        )
    )


def byte_histogram(media: DataFrame) -> DataFrame:
    """Byte-value histogram per item via mapInPandas (vectorized
    numpy inside the worker): emits (doc_id, bucket, byte_count) rows.
    The exploded-rows layout keeps the result joinable/aggregable and
    hash-checkable without array comparison."""
    import numpy as np
    import pandas as pd

    n_buckets = 256 // BUCKET_WIDTH

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, buckets, counts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                c = np.bincount(arr // BUCKET_WIDTH, minlength=n_buckets)
                nz = np.nonzero(c)[0]
                ids.extend([doc_id] * len(nz))
                buckets.extend(nz.tolist())
                counts.extend(c[nz].tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "bucket": buckets, "byte_count": counts}
            )

    return ensure_parallelism(media.select("doc_id", "payload")).mapInPandas(
        hist, "doc_id long, bucket long, byte_count long"
    )


def _decode_media(media_type: str, payload: bytes, meta: dict):
    """Decode one media item to a numpy array. Tries the real codec
    libraries first (not installed in this container); otherwise uses
    a DETERMINISTIC FAKE decode over the raw bytes so the downstream
    plumbing is fully exercisable and reproducible.
    """
    import numpy as np

    if media_type == "image":
        try:
            # Real path — PIL absent in this container. except
            # Exception, not ImportError: synthetic/corrupt payloads
            # raise UnidentifiedImageError etc. when PIL IS installed,
            # and those must also fall back to the deterministic fake.
            import io

            from PIL import Image  # noqa: F401

            return np.asarray(Image.open(io.BytesIO(payload)))
        except Exception:
            # fake: tile bytes into a (height, width) grid
            h, w = meta["height"], meta["width"]
            arr = np.frombuffer(payload, dtype=np.uint8)
            if len(arr) == 0:
                return np.zeros((h, w), dtype=np.uint8)
            reps = (h * w + len(arr) - 1) // len(arr)
            return np.tile(arr, reps)[: h * w].reshape(h, w)
    if media_type == "audio":
        try:  # real path — soundfile absent here; same broad fallback
            import io

            import soundfile  # noqa: F401

            return soundfile.read(io.BytesIO(payload))[0]
        except Exception:
            # fake: bytes as a centered waveform in [-1, 1)
            arr = np.frombuffer(payload, dtype=np.uint8)
            return (arr.astype(np.float64) - 128.0) / 128.0
    if media_type == "video":
        # fake: stack FRAME_BYTES-sized frames (zero-padded tail)
        arr = np.frombuffer(payload, dtype=np.uint8)
        n = (len(arr) + FRAME_BYTES - 1) // FRAME_BYTES
        out = np.zeros(n * FRAME_BYTES, dtype=np.uint8)
        out[: len(arr)] = arr
        return out.reshape(n, FRAME_BYTES)
    raise NotImplementedError(f"unknown media_type {media_type!r}")


def decode_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via mapInPandas: per item, decode the
    payload (stubbed codec, see _decode_media) and emit a fixed
    FEATURE_DIM-wide float vector (normalized byte-value histogram,
    mean, std — on the decoded array). Output schema
    (doc_id, media_type, feature array<double>) is the ANN-ingest
    shape: downstream similarity search consumes it directly.
    No shuffle; Arrow carries the array column."""
    import numpy as np
    import pandas as pd

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for mt, payload, meta in zip(
                pdf["media_type"], pdf["payload"], pdf["meta"]
            ):
                decoded = _decode_media(mt, bytes(payload), meta)
                flat = np.asarray(decoded, dtype=np.float64).ravel()
                # scale fake-decoded outputs to a common 0..255 domain
                if mt == "audio":
                    flat = flat * 128.0 + 128.0
                if flat.size == 0:
                    feats.append([0.0] * FEATURE_DIM)
                    continue
                hist = np.histogram(flat, bins=FEATURE_DIM - 2, range=(0, 256))[0]
                vec = np.concatenate(
                    [hist / flat.size, [flat.mean() / 256.0, flat.std() / 256.0]]
                )
                feats.append(vec.round(9).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                }
            )

    return ensure_parallelism(media).mapInPandas(
        extract, "doc_id long, media_type string, feature array<double>"
    )


def media_dedup_stats(media: DataFrame) -> DataFrame:
    """Exact media deduplication audit by payload content hash: per
    media type, the asset count, distinct-payload count, duplicate
    count, and the bytes a dedup pass would reclaim (each duplicate
    copy's payload size). The image/audio analog of text exact dedup
    — byte-identical assets (re-crawled images, mirrored files)
    collapse on sha256 of the raw binary, shuffling 32-byte hashes
    and never the payloads themselves.

    Output: (media_type, n_assets, distinct_assets, dup_assets,
    reclaimable_bytes)."""
    per_hash = media.groupBy(
        "media_type", F.sha2(F.col("payload"), 256).alias("__h")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        # identical payloads have identical lengths; min is exact
        F.min(F.col("meta.byte_len")).alias("bl"),
    )
    return per_hash.groupBy("media_type").agg(
        F.sum("cnt").cast("long").alias("n_assets"),
        F.count(F.lit(1)).cast("long").alias("distinct_assets"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("dup_assets"),
        F.sum((F.col("cnt") - 1) * F.col("bl"))
        .cast("long")
        .alias("reclaimable_bytes"),
    )


SHARD_TARGET_BYTES = 1 << 16


def shard_plan(
    media: DataFrame, target_bytes: int = SHARD_TARGET_BYTES
) -> DataFrame:
    """WebDataset-style shard packing plan: assign media items to
    sequential tar-shard groups of ~`target_bytes` per media type —
    the packaging step every multimodal training pipeline runs before
    dataloader consumption (shards ≈ equal-sized sequential-read
    units; too-small shards → per-file open overhead, too-large →
    poor shuffle granularity).

    Reuses the exact greedy fold of binpack_groups (sort by size,
    check-before-append) over item byte lengths, partitioned by
    media type. Metadata-only: the plan reads (media_type, byte_len)
    — payload bytes never move, never reach Python, never shuffle.

    Output: (media_type, shard_id, n_items, shard_bytes).
    """
    from iceberg_diag_spark.operators.binpack import binpack_groups

    groups = binpack_groups(
        media.select("media_type", F.col("meta.byte_len").alias("byte_len")),
        partition_col="media_type",
        size_col="byte_len",
        max_bytes_per_group=target_bytes,
    )
    return groups.select(
        "media_type",
        F.col("group_id").cast("long").alias("shard_id"),
        F.col("group_file_count").cast("long").alias("n_items"),
        F.col("group_size").cast("long").alias("shard_bytes"),
    )


def frame_dedup(media: DataFrame) -> DataFrame:
    """Cross-item frame-level dedup: frames whose content hash
    repeats across DIFFERENT items — the shared-intro/outro/slate
    detector for video corpora (and watermark/test-card detector for
    image sets). Training on videos that all open with the same
    5-second logo card over-weights those frames exactly like text
    boilerplate over-weights repeated sentences; this table says
    which frames and how much volume.

    Frames come from the frame_sample extractor (every_k=1 → every
    frame); the aggregate groups by the 16-byte frame hash — the
    frame BYTES themselves never shuffle, only (hash, doc_id,
    frame_len) rows, the media analog of the text exact-dedup
    project-then-shuffle contract.

    Output: (frame_md5, n_items, n_occurrences, frame_len,
    example_doc_id, wasted_bytes) for hashes seen in ≥ 2 distinct
    items, wasted_bytes = bytes beyond the first occurrence.
    """
    frames = frame_sample(media, every_k=1)
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_items"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("frame_len").cast("long").alias("frame_len"),
            F.min("doc_id").cast("long").alias("example_doc_id"),
            (
                (F.count(F.lit(1)) - 1) * F.max("frame_len")
            ).cast("long").alias("wasted_bytes"),
        )
        .filter(F.col("n_items") >= 2)
    )


# Expected payload magic per declared media type (first 4 bytes,
# uppercase hex): PNG signature, RIFF container, MP4 ftyp-box size.
MEDIA_MAGIC: dict[str, str] = {
    "image": "89504E47",
    "audio": "52494646",
    "video": "00000018",
}


def media_integrity_audit(media: DataFrame) -> DataFrame:
    """Magic-byte integrity audit: does each payload's leading
    4 bytes match the signature its declared `media_type` promises?
    Mislabeled or truncated media is the classic silent failure of a
    bulk ingest — the decoder finds it much later, per item, at GPU
    prices; this finds it at scan speed.

    The header check is hex-string equality on
    substring(hex(payload), 1, 8) — pure JVM projection, and the
    exact shape the DuckDB oracle can mirror (blob slicing differs
    across engines; hex-then-slice is identical). One scan + one
    hash aggregate on the small media_type key. Output per type:
    (media_type, n_items, n_valid, n_corrupt, corrupt_ppm,
    example_corrupt_id — min corrupt id, NULL when clean).
    """
    header = F.substring(F.hex(F.col("payload")), 1, 8)
    expected = None
    for t, h in MEDIA_MAGIC.items():
        cond = F.when(F.col("media_type") == t, F.lit(h))
        expected = cond if expected is None else expected.when(
            F.col("media_type") == t, F.lit(h)
        )
    # coalesce: a media_type absent from MEDIA_MAGIC makes `expected`
    # NULL ⇒ header == expected is NULL, which would count the row in
    # n_corrupt (otherwise-branch) yet exclude it from the
    # example_corrupt_id conditional min. Unknown types are uniformly
    # corrupt.
    ok = F.coalesce(header == expected, F.lit(False))
    return (
        ensure_parallelism(media.select("media_type", "payload", "doc_id"))
        .select("media_type", ok.alias("__ok"), "doc_id")
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.when(F.col("__ok"), 1).otherwise(0))
            .cast("long")
            .alias("n_valid"),
            F.sum(F.when(F.col("__ok"), 0).otherwise(1))
            .cast("long")
            .alias("n_corrupt"),
            # conditional min inside the same aggregate — a filtered
            # second pass + re-join would scan the payloads twice
            F.min(F.when(~F.col("__ok"), F.col("doc_id")))
            .cast("long")
            .alias("example_corrupt_id"),
        )
        .select(
            "media_type",
            "n_items",
            "n_valid",
            "n_corrupt",
            F.expr("(1000000 * n_corrupt) DIV n_items").alias("corrupt_ppm"),
            "example_corrupt_id",
        )
    )


def media_phash_near_dup(media: DataFrame) -> DataFrame:
    """Perceptual-hash near-duplicate candidates over opaque media
    payloads — the dHash pipeline (difference hash: downsample,
    compare adjacent samples, band the bits, pair within bands) that
    image dedup runs before any decoder. Since the container ships
    no codecs, the "downsample" here is the byte-domain analogue:
    17 evenly spaced payload bytes, bit_i = byte[p_i] > byte[p_i+1]
    — deterministic, decoder-free, and exactly the Spark plumbing
    (fingerprint projection, band explode, bucket self-join) a real
    pHash would ride; swapping in a PIL-backed Pandas-UDF
    fingerprint changes ONE projection.

    Engine-portable byte access: the payload is hex()'d once and
    bytes are 2-char slices — fixed-width uppercase hex compares
    exactly like the byte value, and DuckDB mirrors the same
    expression (blob slicing semantics differ across engines;
    hex-then-slice is identical). The 16-bit fingerprint folds in ONE
    SQL-string aggregate (no py4j literal tree, no janino blowup).

    Scale shape: candidates only form inside a (band_idx, band_value)
    bucket — 4 bands × 16 values; the self-join ships (id, fp) pairs
    only (16 bytes), never payloads; unordered pairs dedup once and
    Hamming-verify via xor+bit_count, all JVM. Payloads below
    16 bytes are skipped (a 17-point sample of a shorter payload is
    noise). Output: (doc_a, doc_b, hamming), ordered.
    """
    fp_expr = (
        "aggregate(sequence(0, 15), 0L, (acc, i) -> acc + if("
        "substring(__hx, cast(2*(1 + (i*(__len-1)) DIV 16) - 1 as int), 2)"
        " > "
        "substring(__hx, cast(2*(1 + ((i+1)*(__len-1)) DIV 16) - 1 as int), 2),"
        " shiftleft(1L, cast(i as int)), 0L))"
    )
    # two consumers (both band-join sides)
    fps = materialize(
        ensure_parallelism(media)
        .select(
            F.col(DOC_ID),
            F.hex(F.col("payload")).alias("__hx"),
            F.length(F.col("payload")).cast("long").alias("__len"),
        )
        .filter(F.col("__len") >= 16)
        .select(F.col(DOC_ID), F.expr(fp_expr).alias("fp"))
    )
    bands = fps.select(
        DOC_ID,
        "fp",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), t -> "
                "named_struct('t', cast(t as int), "
                "'b', cast(shiftright(fp, cast(4*t as int)) & 15 as int)))"
            )
        ).alias("tb"),
    ).select(DOC_ID, "fp", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    a = bands.select(
        "t", "b", F.col(DOC_ID).alias("doc_a"), F.col("fp").alias("fa")
    )
    b = bands.select(
        "t", "b", F.col(DOC_ID).alias("doc_b"), F.col("fp").alias("fb")
    )
    return (
        a.join(b, ["t", "b"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa", "fb")
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 1)
        .orderBy("doc_a", "doc_b")
    )


def crossmodal_dedup_agreement(docs: DataFrame) -> DataFrame:
    """Cross-MODAL joint-dedup audit for multimodal records (doc +
    attached media payload): the Venn of TEXT near-dup candidate
    pairs (production MinHash-LSH banding) vs MEDIA near-dup
    candidate pairs (decoder-free dHash banding over the payload) on
    the same corpus. The multimodal counterpart of
    dedup_method_agreement (which compares two TEXT families): a
    large only-text region means re-captioned/re-encoded media slips
    text dedup; a large only-media region means near-identical
    payloads carry genuinely different text (thumbnails, crops) and
    a joint policy must decide which modality wins.

    Both pair relations are the production bucketed plans, ids-only
    on the wire (payloads and text never shuffle past their own
    fingerprint stages); the comparison is dedup._pair_agreement,
    shared with dedup_method_agreement. Output (one row): n_text,
    n_media, n_both, only_text, only_media, n_union, overlap_ppm.
    """
    from iceberg_diag_spark.operators import dedup

    tx = dedup.minhash_candidate_pairs(docs)
    md = media_phash_near_dup(with_media(docs))
    return dedup._pair_agreement(tx, md, "text", "media")
