"""Multimodal binary-payload columns over documents.

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from iceberg_diag_spark.operators import multimodal
from iceberg_diag_spark.plans.common import REGISTRY, QuerySpec, _t
from iceberg_diag_spark.plans.oracles_diag import _binpack_cte
from iceberg_diag_spark.plans.oracles_dedup import _MINHASH_PAIRS_SQL


# Multimodal columns (binary payload + typed metadata over documents;
# payloads are deterministic UTF-8 encodings and the corpus is pure
# ASCII, so DuckDB string-side oracles verify binary-side Spark ops)
# --------------------------------------------------------------------

def _media(spark, sf_dir):
    return multimodal.with_media(_t(spark, sf_dir, "documents"))


def _media_catalog(spark, sf_dir):
    return multimodal.media_catalog(_media(spark, sf_dir))


_MEDIA_CATALOG_SQL = """
SELECT doc_id,
       ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
       CAST(length(text) AS BIGINT) AS byte_len,
       CAST(32 + (doc_id * 7) % 480 AS INTEGER) AS width,
       CAST(32 + (doc_id * 13) % 360 AS INTEGER) AS height,
       CAST([8000,16000,44100][CAST(doc_id % 3 AS INTEGER) + 1] AS INTEGER) AS sample_rate,
       CAST(CEIL(length(text) / 64.0) AS BIGINT) AS n_frames,
       md5(text) AS payload_md5
FROM documents
"""


def _media_stats(spark, sf_dir):
    return multimodal.media_type_stats(_media(spark, sf_dir))


_MEDIA_STATS_SQL = """
SELECT ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
       CAST(count(*) AS BIGINT) AS item_count,
       CAST(sum(length(text)) AS BIGINT) AS total_bytes,
       CAST(min(length(text)) AS BIGINT) AS min_bytes,
       CAST(max(length(text)) AS BIGINT) AS max_bytes,
       CAST(sum(CAST(CEIL(length(text) / 64.0) AS BIGINT)) AS BIGINT) AS total_frames
FROM documents
GROUP BY media_type
"""


def _media_frames(spark, sf_dir):
    return multimodal.frame_sample(_media(spark, sf_dir))


_MEDIA_FRAMES_SQL = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(CEIL(length(text) / 64.0) AS BIGINT), 4)) AS fi
  FROM documents
)
SELECT doc_id,
       CAST(fi AS BIGINT) AS frame_idx,
       CAST(length(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS BIGINT) AS frame_len,
       md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5
FROM f
"""


def _media_hist(spark, sf_dir):
    return multimodal.byte_histogram(_media(spark, sf_dir))


_MEDIA_HIST_SQL = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
)
SELECT doc_id,
       CAST(unicode(ch) // 32 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS byte_count
FROM chars
GROUP BY doc_id, bucket
"""


def _media_features(spark, sf_dir):
    feats = multimodal.decode_features(_media(spark, sf_dir))
    # arrays are awkward to hash cross-engine → rows-only check; the
    # schema/shape is still asserted by tests/test_multimodal.py
    return feats.select(
        "doc_id", "media_type", F.size("feature").alias("feature_dim")
    )


def _media_dedup_exact(spark, sf_dir):
    return multimodal.media_dedup_stats(_media(spark, sf_dir))


# payload = UTF-8 bytes of text (the ASCII-corpus convention all
# media oracles rely on), so sha256(text) in DuckDB hashes the exact
# same bytes as Spark's sha2(payload).
_MEDIA_DEDUP_SQL = """
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
         text
  FROM documents
),
per_hash AS (
  SELECT media_type, sha256(text) AS h,
         count(*) AS cnt, min(length(text)) AS bl
  FROM m GROUP BY media_type, sha256(text)
)
SELECT media_type,
       CAST(sum(cnt) AS BIGINT) AS n_assets,
       CAST(count(*) AS BIGINT) AS distinct_assets,
       CAST(sum(cnt) - count(*) AS BIGINT) AS dup_assets,
       CAST(sum((cnt - 1) * bl) AS BIGINT) AS reclaimable_bytes
FROM per_hash
GROUP BY media_type
"""


def _media_shard_plan(spark, sf_dir):
    return multimodal.shard_plan(_media(spark, sf_dir))


_MEDIA_SHARD_SQL = f"""
WITH RECURSIVE files AS (
  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
         CAST(length(text) AS BIGINT) AS file_size_in_bytes,
         0 AS content
  FROM documents
),
{_binpack_cte(["media_type"], threshold=multimodal.SHARD_TARGET_BYTES)}
SELECT media_type,
       CAST(gid AS BIGINT) AS shard_id,
       CAST(cnt AS BIGINT) AS n_items,
       CAST(gsz AS BIGINT) AS shard_bytes
FROM grp
"""


def _media_frame_dedup(spark, sf_dir):
    return multimodal.frame_dedup(_media(spark, sf_dir))


_MEDIA_FRAME_DEDUP_SQL = """
WITH f AS (
  SELECT doc_id, substring(text, CAST(fi * 64 + 1 AS BIGINT), 64) AS frame
  FROM (SELECT doc_id, text,
               unnest(range(0, CAST(CEIL(length(text) / 64.0) AS BIGINT), 1)) AS fi
        FROM documents)
)
SELECT md5(frame) AS frame_md5,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(max(length(frame)) AS BIGINT) AS frame_len,
       CAST(min(doc_id) AS BIGINT) AS example_doc_id,
       CAST((count(*) - 1) * max(length(frame)) AS BIGINT) AS wasted_bytes
FROM f
GROUP BY frame_md5
HAVING count(DISTINCT doc_id) >= 2
"""


def _media_integrity(spark, sf_dir):
    """Synthetic magic headers (the corpus ships text payloads):
    every item gets its declared type's signature prepended EXCEPT
    doc_id % 4 == 0, which gets a junk header — the constructed
    corruption the audit must count per type."""
    media = multimodal.with_media(_t(spark, sf_dir, "documents"))
    magic = None
    for t, h in multimodal.MEDIA_MAGIC.items():
        cond = F.when(F.col("media_type") == t, F.lit(h))
        magic = cond if magic is None else magic.when(
            F.col("media_type") == t, F.lit(h)
        )
    hdr = F.unhex(
        F.when(F.col("doc_id") % 4 == 0, F.lit("DEADBEEF")).otherwise(magic)
    )
    tainted = media.withColumn(
        "payload", F.concat(hdr, F.col("payload"))
    )
    return multimodal.media_integrity_audit(tainted)


_MEDIA_INTEGRITY_SQL = """
WITH p AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1]
           AS media_type,
         from_hex(CASE WHEN doc_id % 4 = 0 THEN 'DEADBEEF'
                       WHEN doc_id % 3 = 0 THEN '89504E47'
                       WHEN doc_id % 3 = 1 THEN '52494646'
                       ELSE '00000018' END) || encode(text) AS payload
  FROM documents
),
c AS (
  SELECT media_type, doc_id,
         substring(hex(payload), 1, 8) =
           CASE media_type WHEN 'image' THEN '89504E47'
                           WHEN 'audio' THEN '52494646'
                           ELSE '00000018' END AS ok
  FROM p
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
       CAST((1000000 * sum(CASE WHEN ok THEN 0 ELSE 1 END)) // count(*)
            AS BIGINT) AS corrupt_ppm,
       CAST(min(CASE WHEN NOT ok THEN doc_id END) AS BIGINT)
         AS example_corrupt_id
FROM c GROUP BY media_type
"""


def _media_phash_near_dup(spark, sf_dir):
    return multimodal.media_phash_near_dup(_media(spark, sf_dir))


_MEDIA_PHASH_SQL = r"""
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS L
  FROM documents
),
fps AS (
  SELECT doc_id,
         list_sum(list_transform(generate_series(0, 15), i ->
           CASE WHEN substring(hx, CAST(2*(1 + (i*(L-1))//16) - 1 AS INT), 2)
                   > substring(hx, CAST(2*(1 + ((i+1)*(L-1))//16) - 1 AS INT), 2)
                THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS fp
  FROM p WHERE L >= 16
),
bb AS (
  SELECT doc_id, fp, t, (fp >> (4*t)) & 15 AS b
  FROM (SELECT doc_id, fp, unnest(generate_series(0, 3)) AS t FROM fps)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fa, b.fp AS fb
  FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 1
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------------
# Cross-modal joint dedup (text LSH × media dHash Venn)
# ------------------------------------------------------------------

def _crossmodal_dedup_agreement(spark, sf_dir):
    return multimodal.crossmodal_dedup_agreement(
        _t(spark, sf_dir, "documents")
    )


_CROSSMODAL_AGREEMENT_SQL = f"""
WITH tx AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
),
md AS (
  SELECT doc_a, doc_b FROM ({_MEDIA_PHASH_SQL})
),
j AS (
  SELECT tx.doc_a IS NOT NULL AS in_tx, md.doc_a IS NOT NULL AS in_md
  FROM tx FULL OUTER JOIN md
    ON tx.doc_a = md.doc_a AND tx.doc_b = md.doc_b
)
SELECT CAST(sum(CASE WHEN in_tx THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       CAST(sum(CASE WHEN in_md THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       CAST(sum(CASE WHEN in_tx AND in_md THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN in_tx AND NOT in_md THEN 1 ELSE 0 END) AS BIGINT)
         AS only_text,
       CAST(sum(CASE WHEN in_md AND NOT in_tx THEN 1 ELSE 0 END) AS BIGINT)
         AS only_media,
       CAST(count(*) AS BIGINT) AS n_union,
       CAST((1000000 * sum(CASE WHEN in_tx AND in_md THEN 1 ELSE 0 END))
            // greatest(count(*), 1) AS BIGINT) AS overlap_ppm
FROM j
"""


REGISTRY.update({
    "media_catalog": QuerySpec(
        _media_catalog, _MEDIA_CATALOG_SQL,
        "multimodal catalog: binary payload fingerprint + typed metadata",
    ),
    "media_type_stats": QuerySpec(
        _media_stats, _MEDIA_STATS_SQL, "per-modality size/frame rollup"
    ),
    "media_frame_sample": QuerySpec(
        _media_frames, _MEDIA_FRAMES_SQL,
        "every-4th-frame sampling over binary payloads (mapInPandas)",
    ),
    "media_byte_histogram": QuerySpec(
        _media_hist, _MEDIA_HIST_SQL,
        "per-item byte-value histogram via Arrow-batched mapInPandas",
    ),
    "media_decode_features": QuerySpec(
        _media_features, None,
        "decode+feature-extract via stubbed codec (PIL/soundfile "
        "fallback to deterministic fake) — rows-only check",
    ),
    "media_dedup_exact": QuerySpec(
        _media_dedup_exact, _MEDIA_DEDUP_SQL,
        "exact media dedup audit by payload sha256 (32-byte hash "
        "shuffle, payloads never move): per-type duplicate counts + "
        "reclaimable bytes",
    ),
    "media_shard_plan": QuerySpec(
        _media_shard_plan, _MEDIA_SHARD_SQL,
        "WebDataset-style tar-shard packing plan per media type "
        "(greedy check-before-append fold over byte lengths; "
        "metadata-only — payloads never move); boundary-recursive "
        "CTE oracle",
    ),
    "media_frame_dedup": QuerySpec(
        _media_frame_dedup, _MEDIA_FRAME_DEDUP_SQL,
        "cross-item frame-level dedup (shared intro/outro/slate "
        "detector): repeated frame hashes across distinct items with "
        "occurrence and wasted-byte accounting — frame bytes never "
        "shuffle, only their 16-byte hashes",
    ),
    "media_integrity_audit": QuerySpec(
        _media_integrity, _MEDIA_INTEGRITY_SQL,
        "magic-byte integrity audit per media type (mislabeled/"
        "truncated ingest detector): hex-then-slice header check, "
        "pure JVM projection + one small-key aggregate with "
        "conditional-min example ids",
    ),
    "media_phash_near_dup": QuerySpec(
        _media_phash_near_dup, _MEDIA_PHASH_SQL,
        "decoder-free perceptual-hash (dHash-style) media near-dup "
        "candidates: 16-bit byte-domain difference hash, 4x4-bit "
        "band buckets, xor+bit_count Hamming verify; payloads never "
        "shuffle, hex-slice byte access is engine-portable",
    ),
    "crossmodal_dedup_agreement": QuerySpec(
        _crossmodal_dedup_agreement, _CROSSMODAL_AGREEMENT_SQL,
        "cross-modal joint-dedup Venn: text MinHash-LSH pairs vs "
        "media dHash pairs over the same multimodal records; both "
        "production bucketed plans, ids-only pair join, one global "
        "aggregate",
    ),
})
