"""Corpus-assembly family: split / cap / mixture / label audits.

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from iceberg_diag_spark.functions.parallel import materialize
from iceberg_diag_spark.operators import (
    dedup,
    events,
    funnel,
    sampling,
    similarity,
    textops,
)
from iceberg_diag_spark.plans.common import (
    REGISTRY,
    QuerySpec,
    _stream_table,
    _t,
)
from iceberg_diag_spark.streaming import stream_ops
from iceberg_diag_spark.plans.oracles_dedup import (
    _MINHASH_PAIRS_SQL,
    _MINHASH_PRS_CTE,
    _lang_list_sql,
)


# Corpus-assembly family: split / cap / mixture / label audit
# --------------------------------------------------------------------


def _stratified_split(spark, sf_dir):
    """Deterministic 90/5/5 train-val-test assignment (md5-bucket of
    doc_id), audited per source: the count proves every stratum keeps
    its proportions and two independently-salted bit_xor membership
    checksums prove the exact membership, not just the sizes.

    The checksums are commutative/order-insensitive, so the audit
    aggregates with O(1) per-group state and map-side partials — the
    train cell of a 100 TB corpus never materializes its doc_id list
    anywhere (the previous sort_array(collect_list) digest held ~90%
    of a source's ids in ONE aggregation buffer)."""
    df = sampling.split_assign(
        _t(spark, sf_dir, "documents"), key_col="doc_id",
        val_pct=5, test_pct=5,
    )
    return sampling.membership_manifest(
        df, ["source", "split"], F.col("doc_id"), "n_docs"
    )


_STRATIFIED_SPLIT_SQL = """
WITH assigned AS (
  SELECT source, doc_id,
         CASE
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 5 THEN 'test'
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10 THEN 'val'
           ELSE 'train'
         END AS split
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       bit_xor(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor,
       bit_xor(('0x' || substring(md5('m2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor2
FROM assigned GROUP BY source, split
"""


def _per_source_cap(spark, sf_dir):
    """Cap every source at 10 documents chosen by hash order — the
    over-represented-domain guard. row_number <= k compiles to a
    map-side WindowGroupLimit, so no executor ships a full stratum."""
    return sampling.per_stratum_cap(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id", strata_col="source", cap=10,
    ).select("doc_id", "source", F.col("rk").cast("long").alias("rk"))


_PER_SOURCE_CAP_SQL = """
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 10
"""


def _source_mixture(spark, sf_dir):
    """Temperature-flattened (alpha=0.5) domain-mixture weights over
    character mass — the sampling table a multilingual training run
    is driven by. Shares emitted as floor-ppm BIGINTs for exact
    cross-engine comparison."""
    return sampling.source_mixture_weights(
        _t(spark, sf_dir, "documents"),
        strata_col="source", weight_col="n_chars", alpha=0.5,
    )


_SOURCE_MIXTURE_SQL = """
WITH m AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source
)
SELECT source, n_docs, mass,
       CAST(FLOOR(1000000.0 * mass / sum(mass) OVER ()) AS BIGINT) AS share_ppm,
       CAST(FLOOR(1000000.0 * pow(CAST(mass AS DOUBLE), 0.5)
                  / sum(pow(CAST(mass AS DOUBLE), 0.5)) OVER ()) AS BIGINT)
         AS sample_share_ppm
FROM m
"""


def _centroid_confusion(spark, sf_dir):
    return similarity.nearest_centroid_confusion(
        _t(spark, sf_dir, "embeddings")
    )


_CENTROID_CONFUSION_SQL = """
WITH ex AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (
  SELECT label AS cand, pos, avg(val) AS c FROM ex GROUP BY label, pos
),
dists AS (
  SELECT ex.vec_id, ex.label, cent.cand,
         CAST(FLOOR(sum((ex.val - cent.c) * (ex.val - cent.c)) * 1000000.0) AS BIGINT) AS d2q
  FROM ex JOIN cent ON ex.pos = cent.pos
  GROUP BY ex.vec_id, ex.label, cent.cand
),
assigned AS (
  SELECT vec_id, label, cand,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cand) AS rn
  FROM dists
)
SELECT label, cand AS predicted, CAST(count(*) AS BIGINT) AS n_vecs
FROM assigned WHERE rn = 1 GROUP BY label, cand
"""


def _token_entropy(spark, sf_dir):
    return textops.token_entropy(_t(spark, sf_dir, "documents"))


_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(FLOOR(1000.0 * (log2(sum(c)) - sum(c * log2(c)) / sum(c))) AS BIGINT)
         AS entropy_millibits
FROM tf GROUP BY doc_id
"""


def _quantize_embeddings(spark, sf_dir):
    return similarity.quantize_embeddings_int8(
        _t(spark, sf_dir, "embeddings")
    )


_QUANTIZE_SQL = """
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS max_abs
  FROM embeddings
)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(FLOOR(max_abs * 1000000.0) AS BIGINT) AS scale_ppm,
       md5(array_to_string(
         list_transform(
           embedding,
           x -> CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT)
                END
         ), ',')) AS q_checksum
FROM m
"""


def _source_overlap(spark, sf_dir):
    return dedup.source_overlap(_t(spark, sf_dir, "documents"))


_SOURCE_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
fp AS (
  SELECT doc_id, source,
         min(substring(md5(array_to_string(t[i:i+7], ' ')), 1, 16)) AS content_hash
  FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
  GROUP BY doc_id, source
),
srcs AS (
  SELECT content_hash, list_sort(list(DISTINCT source)) AS s
  FROM fp GROUP BY content_hash HAVING count(DISTINCT source) >= 2
),
ex AS (
  SELECT content_hash, unnest(s) AS src, generate_subscripts(s, 1) AS i
  FROM srcs
),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b
  FROM ex a JOIN ex b
    ON a.content_hash = b.content_hash AND a.i < b.i
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS shared_contents
FROM pairs GROUP BY src_a, src_b
"""


def _user_event_paths(spark, sf_dir):
    return events.user_event_paths(_t(spark, sf_dir, "events"))


_USER_PATHS_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '->' ORDER BY rk) AS path
  FROM ranked WHERE rk <= 5 GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users,
       min(user_id) AS min_user_id
FROM paths GROUP BY path
"""


def _skew_audit(spark, sf_dir):
    from iceberg_diag_spark.functions.skew import skew_audit
    return skew_audit(_t(spark, sf_dir, "events"), "event_type")


_SKEW_AUDIT_SQL = """
WITH counts AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), '(null)') AS key_repr,
         CAST(count(*) AS BIGINT) AS key_rows
  FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(sum(key_rows) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
),
ranked AS (
  SELECT key_repr, key_rows,
         row_number() OVER (ORDER BY key_rows DESC, key_repr ASC) AS rank
  FROM counts
)
SELECT rank, key_repr, key_rows, total_rows, n_keys,
       CAST(FLOOR(1000000.0 * key_rows / total_rows) AS BIGINT) AS share_ppm
FROM ranked, totals WHERE rank <= 5
"""


def _dataset_card(spark, sf_dir):
    """The dataset card: per (source, split) — document count, exact
    whitespace-token budget, and the source's alpha=0.5 sampling
    share — the one table a training run is configured from.
    Composition of split_assign + source_mixture_weights + token
    counting in two shuffles (per-group agg + tiny broadcast join of
    the #sources mixture relation)."""
    docs = _t(spark, sf_dir, "documents")
    assigned = sampling.split_assign(docs, key_col="doc_id")
    per_cell = assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(textops.tokens(F.col("text")))).cast("long").alias(
            "n_tokens"
        ),
    )
    mix = sampling.source_mixture_weights(
        docs, strata_col="source", weight_col="n_chars", alpha=0.5
    ).select("source", "sample_share_ppm")
    return per_cell.join(F.broadcast(mix), "source")


_DATASET_CARD_SQL = r"""
WITH assigned AS (
  SELECT source, doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_toks,
         CASE
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 5 THEN 'test'
           WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10 THEN 'val'
           ELSE 'train'
         END AS split
  FROM documents
),
per_cell AS (
  SELECT source, split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY source, split
),
m AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass FROM documents GROUP BY source
),
mix AS (
  SELECT source,
         CAST(FLOOR(1000000.0 * pow(CAST(mass AS DOUBLE), 0.5)
                    / sum(pow(CAST(mass AS DOUBLE), 0.5)) OVER ()) AS BIGINT)
           AS sample_share_ppm
  FROM m
)
SELECT per_cell.source, split, n_docs, n_tokens, sample_share_ppm
FROM per_cell JOIN mix ON per_cell.source = mix.source
"""


def _join_cardinality(spark, sf_dir):
    from iceberg_diag_spark.functions.skew import join_cardinality
    return join_cardinality(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ),
        "o_orderkey",
    )


_JOIN_CARD_SQL = """
WITH lc AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS cl
  FROM orders GROUP BY o_orderkey
),
rc AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS k, count(*) AS cr
  FROM lineitem GROUP BY l_orderkey
),
per_key AS (
  SELECT lc.k, cl * cr AS contrib FROM lc JOIN rc ON lc.k = rc.k
),
w AS (
  SELECT k, contrib FROM per_key ORDER BY contrib DESC, k DESC LIMIT 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders)   AS n_left,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
       (SELECT CAST(count(*) AS BIGINT) FROM per_key)  AS n_join_keys,
       (SELECT CAST(sum(contrib) AS BIGINT) FROM per_key) AS join_rows,
       (SELECT k FROM w)                               AS worst_key_repr,
       (SELECT CAST(contrib AS BIGINT) FROM w)         AS worst_key_rows
"""


# --------------------------------------------------------------------
# Substring-duplication audit, winnowing
# fingerprints, token-budget water-filling, join-selectivity audit
# --------------------------------------------------------------------


def _dup_ngram_spans(spark, sf_dir):
    return dedup.dup_ngram_span_stats(_t(spark, sf_dir, "documents"))


_DUP_NGRAM_SPANS_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
eg AS (
  SELECT doc_id, md5(array_to_string(toks[i + 1 : i + 8], ' ')) AS gh
  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS i
        FROM norm WHERE len(toks) >= 8)
),
dup AS (
  SELECT gh FROM (
    SELECT gh, count(DISTINCT doc_id) AS nd FROM eg GROUP BY gh
  ) WHERE nd >= 2
)
SELECT eg.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(dup.gh) AS BIGINT) AS n_dup_grams,
       CAST(FLOOR(1000000.0 * count(dup.gh) / count(*)) AS BIGINT) AS dup_ppm
FROM eg LEFT JOIN dup ON eg.gh = dup.gh
GROUP BY eg.doc_id
"""


def _winnow_fingerprints(spark, sf_dir):
    return dedup.winnow_fingerprints(_t(spark, sf_dir, "documents"))


_WINNOW_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, i AS pos,
         ('0x' || substring(md5(array_to_string(toks[i + 1 : i + 3], ' ')), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 3)) AS i
        FROM norm WHERE len(toks) >= 3)
),
win AS (
  SELECT doc_id,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
  FROM pos
),
sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE wn = 4)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       bit_xor(fp) AS fp_xor
FROM sel GROUP BY doc_id
"""


def _token_budget_waterfill(spark, sf_dir):
    out = sampling.token_budget_waterfill(
        _t(spark, sf_dir, "documents"), budget=100_000,
        strata_col="source", weight_col="n_chars",
    )
    return out.select(
        "source", "mass", "alloc_tokens",
        F.col("exhausted").cast("long").alias("exhausted"),
    )


_WATERFILL_SQL = """
WITH m AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
  FROM documents GROUP BY source
),
d AS (
  SELECT source, mass,
         row_number() OVER (ORDER BY mass, source) AS rn,
         coalesce(sum(mass) OVER (ORDER BY mass, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS prefix_before,
         count(*) OVER () AS n
  FROM m
),
t AS (
  SELECT rn, (100000.0 - prefix_before) / (n - rn + 1) AS theta_i
  FROM d
  WHERE (100000.0 - prefix_before) / (n - rn + 1) <= mass
),
theta AS (SELECT theta_i FROM t ORDER BY rn LIMIT 1)
SELECT source,
       CAST(FLOOR(mass) AS BIGINT) AS mass,
       CAST(FLOOR(LEAST(mass, coalesce((SELECT theta_i FROM theta), mass)))
            AS BIGINT) AS alloc_tokens,
       CAST(((SELECT theta_i FROM theta) IS NULL
             OR mass <= (SELECT theta_i FROM theta)) AS BIGINT) AS exhausted
FROM d
"""


def _join_selectivity(spark, sf_dir):
    from iceberg_diag_spark.functions.skew import join_selectivity
    return join_selectivity(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ),
        "o_orderkey",
    )


_JOIN_SELECTIVITY_SQL = """
WITH lc AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k, count(*) AS cl
  FROM orders GROUP BY o_orderkey
),
rc AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS k, count(*) AS cr
  FROM lineitem GROUP BY l_orderkey
),
j AS (SELECT lc.cl, rc.cr FROM lc FULL JOIN rc ON lc.k = rc.k)
SELECT CAST(sum(cl) AS BIGINT) AS n_left,
       CAST(sum(cr) AS BIGINT) AS n_right,
       CAST(count(cl) AS BIGINT) AS n_keys_left,
       CAST(count(cr) AS BIGINT) AS n_keys_right,
       CAST(count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_keys_both,
       CAST(sum(CASE WHEN cr IS NOT NULL THEN cl ELSE 0 END) AS BIGINT)
         AS matched_left,
       CAST(sum(CASE WHEN cl IS NOT NULL THEN cr ELSE 0 END) AS BIGINT)
         AS matched_right,
       CAST(FLOOR(1000000.0 * sum(CASE WHEN cr IS NOT NULL THEN cl ELSE 0 END)
                  / sum(cl)) AS BIGINT) AS match_left_ppm,
       CAST(FLOOR(1000000.0 * sum(CASE WHEN cl IS NOT NULL THEN cr ELSE 0 END)
                  / sum(cr)) AS BIGINT) AS match_right_ppm
FROM j
"""


def _near_dup_by_source(spark, sf_dir):
    """Which domains fuzzily duplicate each other: MinHash near-dup
    candidate pairs labeled with both members' sources, counted per
    unordered source pair — the fuzzy complement of source_overlap's
    exact-hash matrix (a mirror site shows up there; a template-
    rewritten scrape only shows up here)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    return j.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


_NEAR_DUP_BY_SOURCE_SQL = (
    "WITH "
    + _MINHASH_PRS_CTE.strip()
    + """
, lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM prs
  JOIN documents da ON prs.doc_a = da.doc_id
  JOIN documents db ON prs.doc_b = db.doc_id
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY source_a, source_b
"""
)


def _weighted_sample(spark, sf_dir):
    """Audit of the deterministic weighted sampler: per source, how
    many docs the weight-proportional hash filter keeps plus the
    O(1)-state xor membership digests proving the exact kept set."""
    kept = sampling.weighted_hash_sample(
        _t(spark, sf_dir, "documents"), key_col="doc_id",
        weight_col="n_chars",
    )
    return sampling.membership_manifest(
        kept, ["source"], F.col("doc_id"), "n_kept"
    )


_WEIGHTED_SAMPLE_SQL = """
WITH mw AS (SELECT avg(CAST(n_chars AS DOUBLE)) AS mw FROM documents),
kept AS (
  SELECT source, doc_id
  FROM documents CROSS JOIN mw
  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
        < LEAST(1000000.0, FLOOR(200000.0 * n_chars / mw))
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       bit_xor(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor,
       bit_xor(('0x' || substring(md5('m2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor2
FROM kept GROUP BY source
"""


def _dedup_incremental(spark, sf_dir):
    """Incremental ingestion gate exercised on a deterministic split
    of the fixture: even doc_ids play the standing corpus, odd ones
    the incoming batch."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.incremental_dedup_status(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )


_DEDUP_INCREMENTAL_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(
             generate_series(0, greatest(len(toks) - 3, 0)),
             i -> array_to_string(toks[i + 1 : i + 3], ' ')))
         ELSE [] END AS grams
  FROM norm
),
eg AS (SELECT doc_id, unnest(grams) AS gram FROM grams),
hh AS (
  SELECT doc_id,
         ('0x' || substring(md5(gram), 1, 8))::BIGINT AS g1,
         ('0x' || substring(md5(gram), 9, 8))::BIGINT AS g2
  FROM eg
),
sig AS (
  SELECT doc_id, seed, min((g1 + seed * g2) % 4294967296) AS minhash
  FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, seed
),
keys AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         array_to_string(list(minhash ORDER BY seed), '|') AS band_key
  FROM sig GROUP BY doc_id, band
),
ckeys AS (SELECT band, band_key FROM keys WHERE doc_id % 2 = 0),
near AS (
  SELECT DISTINCT k.doc_id
  FROM keys k
  WHERE k.doc_id % 2 = 1
    AND EXISTS (SELECT 1 FROM ckeys c
                WHERE c.band = k.band AND c.band_key = k.band_key)
),
ch AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
exact AS (
  SELECT doc_id FROM ch
  WHERE doc_id % 2 = 1
    AND ch IN (SELECT ch FROM ch WHERE doc_id % 2 = 0)
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'novel' END AS status
FROM documents d
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN near n ON d.doc_id = n.doc_id
WHERE d.doc_id % 2 = 1
"""


def _lang_confusion(spark, sf_dir):
    """Language-label audit: stopword-voting predicted language vs
    the corpus's labeled lang column as a confusion matrix — the
    label-noise check run before trusting per-language mixture
    weights. Single pass: the voting exprs ride the scan projection
    (no join), one #langs² aggregate."""
    docs = _t(spark, sf_dir, "documents")
    best = textops.language_best()
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_LANG_CONFUSION_SQL = rf"""
WITH norm AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, lang, 'de' AS cand, len(list_intersect(toks, {_lang_list_sql('de')})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, lang, 'en', len(list_intersect(toks, {_lang_list_sql('en')})) FROM norm
  UNION ALL
  SELECT doc_id, lang, 'es', len(list_intersect(toks, {_lang_list_sql('es')})) FROM norm
  UNION ALL
  SELECT doc_id, lang, 'fr', len(list_intersect(toks, {_lang_list_sql('fr')})) FROM norm
),
best AS (
  SELECT doc_id, lang, cand, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand DESC) AS rn
  FROM scores
)
SELECT lang,
       CASE WHEN hits > 0 THEN cand ELSE 'und' END AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM best WHERE rn = 1
GROUP BY lang, pred_lang
"""


def _corpus_top_ngrams(spark, sf_dir):
    """Corpus-wide top-25 bigrams with occurrence and document
    frequencies — the vocabulary-induction / boilerplate-phrase
    scout. Global top-k via orderBy().limit() compiles to
    TakeOrderedAndProject (per-partition partial top-k, then a k·p
    merge) — never a partition-less window over the full gram
    relation (a trillion-gram corpus would die there); the rank
    window runs over the 25 survivors only."""
    from pyspark.sql import Window

    grams = dedup.word_ngram_rows(
        _t(spark, sf_dir, "documents"), n=2
    )
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(25)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("gram"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "gram", "n_occurrences", "n_docs")


_CORPUS_TOP_NGRAMS_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
eg AS (
  SELECT doc_id, array_to_string(toks[i + 1 : i + 2], ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 2)) AS i
        FROM norm WHERE len(toks) >= 2)
),
counts AS (
  SELECT gram,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM eg GROUP BY gram
),
ranked AS (
  SELECT gram, n_occurrences, n_docs,
         row_number() OVER (ORDER BY n_occurrences DESC, gram ASC) AS rank
  FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank, gram, n_occurrences, n_docs
FROM ranked WHERE rank <= 25
"""


def _stream_incremental_dedup(spark, sf_dir):
    """Streaming form of the incremental dedup gate: odd doc_ids
    arrive as the stream, even ids are the standing corpus."""
    docs_stream = stream_ops.read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return stream_ops.run_to_table(
        stream_ops.incremental_exact_dedup_stream(docs_stream, corpus),
        "append",
        "stream_inc_dedup",
    )


_STREAM_INC_DEDUP_SQL = r"""
WITH ch AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
)
SELECT d.doc_id,
       CASE WHEN d.ch IN (SELECT ch FROM ch WHERE doc_id % 2 = 0)
            THEN 'exact' ELSE 'novel' END AS status
FROM ch d WHERE d.doc_id % 2 = 1
"""


def _quality_gate_ablation(spark, sf_dir):
    """Filter-ablation audit for the curation gates (TTR ≥ 0.4,
    alpha ≥ 0.6, language identified): per gate, how many docs fail
    it at all, how many ONLY it kills (the gate's marginal
    contribution), how many fall to multiple gates, and the survivor
    count — the table that says which filter is doing the work and
    which is redundant before anyone tightens thresholds on a 100 TB
    corpus. Single scan, conditional sums, one 1-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    q = textops.quality_exprs()
    best = textops.language_best()
    pred_ok = best["hits"] > 0
    e = docs.select(
        (q["type_token_ratio"] >= 0.4).alias("p_ttr"),
        (q["alpha_ratio"] >= 0.6).alias("p_alpha"),
        pred_ok.alias("p_lang"),
    )

    def c(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    p_ttr, p_alpha, p_lang = F.col("p_ttr"), F.col("p_alpha"), F.col("p_lang")
    n_fails = (
        F.when(p_ttr, 0).otherwise(1)
        + F.when(p_alpha, 0).otherwise(1)
        + F.when(p_lang, 0).otherwise(1)
    )
    return e.agg(
        F.count(F.lit(1)).alias("n_total"),
        c(p_ttr & p_alpha & p_lang).alias("n_pass_all"),
        c(~p_ttr).alias("fail_ttr"),
        c(~p_alpha).alias("fail_alpha"),
        c(~p_lang).alias("fail_lang"),
        c(~p_ttr & p_alpha & p_lang).alias("only_ttr"),
        c(p_ttr & ~p_alpha & p_lang).alias("only_alpha"),
        c(p_ttr & p_alpha & ~p_lang).alias("only_lang"),
        c(n_fails >= 2).alias("fail_multi"),
    )


_QUALITY_ABLATION_SQL = rf"""
WITH norm AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, 'de' AS cand, len(list_intersect(toks, {_lang_list_sql('de')})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, 'en', len(list_intersect(toks, {_lang_list_sql('en')})) FROM norm
  UNION ALL
  SELECT doc_id, 'es', len(list_intersect(toks, {_lang_list_sql('es')})) FROM norm
  UNION ALL
  SELECT doc_id, 'fr', len(list_intersect(toks, {_lang_list_sql('fr')})) FROM norm
),
lang_ok AS (
  SELECT doc_id, max(hits) > 0 AS p_lang FROM scores GROUP BY doc_id
),
gates AS (
  SELECT n.doc_id,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.4 AS p_ttr,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) >= 0.6 AS p_alpha,
         l.p_lang
  FROM norm n JOIN lang_ok l ON n.doc_id = l.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN p_ttr AND p_alpha AND p_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
       CAST(sum(CASE WHEN NOT p_ttr THEN 1 ELSE 0 END) AS BIGINT) AS fail_ttr,
       CAST(sum(CASE WHEN NOT p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
       CAST(sum(CASE WHEN NOT p_lang THEN 1 ELSE 0 END) AS BIGINT) AS fail_lang,
       CAST(sum(CASE WHEN NOT p_ttr AND p_alpha AND p_lang THEN 1 ELSE 0 END) AS BIGINT) AS only_ttr,
       CAST(sum(CASE WHEN p_ttr AND NOT p_alpha AND p_lang THEN 1 ELSE 0 END) AS BIGINT) AS only_alpha,
       CAST(sum(CASE WHEN p_ttr AND p_alpha AND NOT p_lang THEN 1 ELSE 0 END) AS BIGINT) AS only_lang,
       CAST(sum(CASE WHEN (CASE WHEN p_ttr THEN 0 ELSE 1 END)
                        + (CASE WHEN p_alpha THEN 0 ELSE 1 END)
                        + (CASE WHEN p_lang THEN 0 ELSE 1 END) >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_multi
FROM gates
"""


def _label_silhouette(spark, sf_dir):
    return similarity.label_silhouette(_t(spark, sf_dir, "embeddings"))


_LABEL_SILHOUETTE_SQL = """
WITH ex AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (
  SELECT label AS cand, pos, avg(val) AS c FROM ex GROUP BY label, pos
),
dists AS (
  SELECT ex.vec_id, ex.label, cent.cand,
         CAST(FLOOR(sum((ex.val - cent.c) * (ex.val - cent.c)) * 1000000.0) AS BIGINT) AS d2q
  FROM ex JOIN cent ON ex.pos = cent.pos
  GROUP BY ex.vec_id, ex.label, cent.cand
),
own AS (
  SELECT vec_id, label, d2q AS own_d2q FROM dists WHERE cand = label
),
other AS (
  SELECT vec_id, label, min(d2q) AS other_d2q
  FROM dists WHERE cand <> label GROUP BY vec_id, label
)
SELECT o.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(FLOOR(avg(own_d2q)) AS BIGINT) AS mean_own_d2q,
       CAST(FLOOR(avg(other_d2q)) AS BIGINT) AS mean_other_d2q,
       CAST(FLOOR(1000000.0 * avg(own_d2q) / avg(other_d2q)) AS BIGINT) AS sep_ratio_ppm
FROM own o JOIN other t ON o.vec_id = t.vec_id AND o.label = t.label
GROUP BY o.label
"""


_STREAM_QUALITY_GATE_SQL = rf"""
WITH norm AS (
  SELECT doc_id, source, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, 'de' AS cand, len(list_intersect(toks, {_lang_list_sql('de')})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, 'en', len(list_intersect(toks, {_lang_list_sql('en')})) FROM norm
  UNION ALL
  SELECT doc_id, 'es', len(list_intersect(toks, {_lang_list_sql('es')})) FROM norm
  UNION ALL
  SELECT doc_id, 'fr', len(list_intersect(toks, {_lang_list_sql('fr')})) FROM norm
),
lang_ok AS (SELECT doc_id, max(hits) > 0 AS p_lang FROM scores GROUP BY doc_id),
gates AS (
  SELECT n.source,
         CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.4
               AND CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) >= 0.6
               AND l.p_lang
              THEN 1 ELSE 0 END AS p
  FROM norm n JOIN lang_ok l ON n.doc_id = l.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p) AS BIGINT) AS n_pass
FROM gates GROUP BY source
"""


def _curriculum_shards(spark, sf_dir):
    return sampling.curriculum_shards(_t(spark, sf_dir, "documents"))


_CURRICULUM_SQL = r"""
WITH f AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
         text
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) / greatest(len(toks), 1) AS mtl,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr,
         CAST(len(list_intersect(toks,
           ['the','and','of','to','a','in','is','that','it','for'])) AS DOUBLE)
           / greatest(len(toks), 1) AS sw,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> array_to_string(toks[i : i + 2], ' '))
         ELSE [] END AS tri,
         len(toks) AS n_tokens
  FROM f
),
z AS (
  SELECT doc_id, n_tokens,
         CAST(FLOOR((-2.3 + (-0.05) * mtl + 1.2 * ttr + 4.0 * sw + 2.5 * alpha
         + (-3.0) * (CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                     / greatest(len(tri), 1))) * 1000000.0) AS BIGINT) AS z_micro
  FROM feats
),
banded AS (
  SELECT doc_id, n_tokens,
         CASE WHEN z_micro >= 600000 THEN 'high'
              WHEN z_micro >= 300000 THEN 'mid'
              ELSE 'low' END AS band,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
  FROM z
),
g AS (
  SELECT band,
         CASE band WHEN 'high' THEN 0 WHEN 'mid' THEN 1 ELSE 2 END AS band_rank,
         shard, count(*) AS n_docs, sum(n_tokens) AS total_tokens
  FROM banded GROUP BY band, shard
)
SELECT band,
       CAST(band_rank AS INTEGER) AS band_rank,
       CAST(shard AS BIGINT) AS shard,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(FLOOR(n_docs * 1000000.0 / sum(n_docs) OVER (PARTITION BY band))
            AS BIGINT) AS band_share_ppm
FROM g
"""


def _padding_waste_audit(spark, sf_dir):
    from iceberg_diag_spark.operators.packing import padding_waste_audit

    return padding_waste_audit(_t(spark, sf_dir, "documents"))


def _padding_waste_sql() -> str:
    ladder = " ".join(
        f"WHEN n <= {1 << k} THEN {1 << k}" for k in range(4, 21)
    )
    return rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n
  FROM documents
),
g AS (
  SELECT 'global_max' AS strategy,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(count(*) * max(n) AS BIGINT) AS padded_tokens
  FROM base
),
p AS (
  SELECT 'pow2_bucket' AS strategy,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(CASE {ladder} ELSE {1 << 20} END) AS BIGINT) AS padded_tokens
  FROM base
),
ranked AS (
  SELECT n, CAST((row_number() OVER (ORDER BY n, doc_id) - 1) // 32 AS BIGINT) AS batch
  FROM base
),
bm AS (
  SELECT batch, count(*) AS bn, sum(n) AS bsum, max(n) AS bmax
  FROM ranked GROUP BY batch
),
s AS (
  SELECT 'sorted_batches' AS strategy,
         CAST(sum(bn) AS BIGINT) AS n_docs,
         CAST(sum(bsum) AS BIGINT) AS total_tokens,
         CAST(sum(bn * bmax) AS BIGINT) AS padded_tokens
  FROM bm
),
u AS (SELECT * FROM g UNION ALL SELECT * FROM p UNION ALL SELECT * FROM s)
SELECT strategy, n_docs, total_tokens, padded_tokens,
       CAST(floor(1000000.0 * (padded_tokens - total_tokens) / padded_tokens)
            AS BIGINT) AS waste_ppm
FROM u
"""


_PADDING_WASTE_SQL = _padding_waste_sql()


def _exact_quota_holdout(spark, sf_dir):
    return sampling.exact_quota_holdout(
        _t(spark, sf_dir, "documents"), holdout_ppm=100_000
    )


_EXACT_QUOTA_SQL = """
WITH keyed AS (
  SELECT doc_id, source AS stratum,
         md5(CAST(doc_id AS VARCHAR)) AS mh
  FROM documents
),
counts AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n_s
  FROM keyed GROUP BY stratum
),
totals AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
         CAST(sum((n_s * 100000) // 1000000) AS BIGINT) AS base_total
  FROM counts
),
quotas AS (
  SELECT stratum,
         (n_s * 100000) // 1000000
           + CASE WHEN row_number() OVER (
                    ORDER BY n_s * 100000
                             - ((n_s * 100000) // 1000000) * 1000000 DESC,
                             stratum ASC)
                    <= (n_total * 100000) // 1000000 - base_total
             THEN 1 ELSE 0 END AS quota
  FROM counts CROSS JOIN totals
)
SELECT k.doc_id, k.stratum, CAST(k.rn AS BIGINT) AS pick_rank
FROM (
  SELECT doc_id, stratum,
         row_number() OVER (PARTITION BY stratum ORDER BY mh, doc_id)
           AS rn
  FROM keyed
) k JOIN quotas USING (stratum)
WHERE k.rn <= quota
"""


# ------------------------------------------------------------------
# Fused corpus-build funnel (the release "dataset card")
# ------------------------------------------------------------------

def _corpus_build_funnel(spark, sf_dir):
    from iceberg_diag_spark.operators.funnel import corpus_build_funnel

    return corpus_build_funnel(_t(spark, sf_dir, "documents"))


# The oracle composes the same stage rules the individual entries
# already verify one-by-one (corpus_curation gates, minhash_pairs
# candidates, near_dup_clusters' recursive-CTE connected components
# restricted to stage-2 survivors, exact_quota_holdout apportionment,
# doc_pack_sequences recursion) into one funnel — the composition
# itself is what this entry tests. The pairs CTE embeds _MINHASH_PAIRS_SQL verbatim as a
# parenthesized WITH-subquery (DuckDB scopes inner CTE names, so its
# norm/chash chain cannot collide with the funnel's).
# Shared template for the funnel FAMILY (stage counts + the executed
# release's manifest): one WITH-chain through the per-doc p4 flag
# relation and the pack recursion; {pdata} parameterizes what feeds
# the packer (the funnel packs doc_id%4 shards, the release packs
# md5-bucket shards) and {final} the terminal projection.
_FUNNEL_TEMPLATE = (
    r"""
WITH RECURSIVE fnorm AS (
  SELECT doc_id, source, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
perdoc0 AS (
  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch,
         (CAST(len(list_distinct(toks)) AS DOUBLE)
            / greatest(len(toks), 1) >= 0.4
          AND CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) >= 0.6
          AND greatest(
                len(list_intersect(toks, """
    + "{de}"
    + r""")),
                len(list_intersect(toks, """
    + "{en}"
    + r""")),
                len(list_intersect(toks, """
    + "{es}"
    + r""")),
                len(list_intersect(toks, """
    + "{fr}"
    + r"""))) > 0
         ) AS s1
  FROM fnorm
),
perdoc AS (
  SELECT *,
         (s1 AND doc_id = min(CASE WHEN s1 THEN doc_id END)
                            OVER (PARTITION BY ch)) AS s2
  FROM perdoc0
),
pairs AS (SELECT * FROM (
"""
    + _MINHASH_PAIRS_SQL.strip()
    + r"""
)),
fpairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN perdoc sa ON sa.doc_id = p.doc_a AND sa.s2
  JOIN perdoc sb ON sb.doc_id = p.doc_b AND sb.s2
),
fedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM fpairs
  UNION ALL
  SELECT doc_b, doc_a FROM fpairs
),
freach(node, label) AS (
    SELECT doc_id, doc_id FROM perdoc WHERE s2
  UNION
    SELECT e.src, r.label FROM fedges e JOIN freach r ON r.node = e.dst
),
fcc AS (
  SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
  FROM freach GROUP BY node
),
p3 AS (
  SELECT pd.doc_id, pd.source, pd.n_tokens, pd.s1, pd.s2,
         (pd.s2 AND coalesce(c.cluster_id, pd.doc_id) = pd.doc_id) AS s3
  FROM perdoc pd LEFT JOIN fcc c USING (doc_id)
),
keyed AS (
  SELECT doc_id, source AS stratum, md5(CAST(doc_id AS VARCHAR)) AS mh
  FROM p3 WHERE s3
),
counts AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n_s FROM keyed GROUP BY stratum
),
totals AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
         CAST(sum((n_s * 100000) // 1000000) AS BIGINT) AS base_total
  FROM counts
),
quotas AS (
  SELECT stratum,
         (n_s * 100000) // 1000000
           + CASE WHEN row_number() OVER (
                    ORDER BY n_s * 100000
                             - ((n_s * 100000) // 1000000) * 1000000 DESC,
                             stratum ASC)
                    <= (n_total * 100000) // 1000000 - base_total
             THEN 1 ELSE 0 END AS quota
  FROM counts CROSS JOIN totals
),
picks AS (
  SELECT k.doc_id
  FROM (
    SELECT doc_id, stratum,
           row_number() OVER (PARTITION BY stratum ORDER BY mh, doc_id) AS rn
    FROM keyed
  ) k JOIN quotas USING (stratum)
  WHERE k.rn <= quota
),
p4 AS (
  SELECT p3.doc_id, p3.source, p3.n_tokens, p3.s1, p3.s2, p3.s3,
         (p3.s3 AND pk.doc_id IS NULL) AS s4
  FROM p3 LEFT JOIN picks pk USING (doc_id)
),
pdata AS (
{pdata}
),
ppre AS (
  SELECT source, shard, sz,
         row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn,
         sum(sz) OVER (PARTITION BY source, shard ORDER BY doc_id) AS ps
  FROM pdata
),
pbounds AS (
  SELECT source, shard, 0 AS gid, CAST(1 AS BIGINT) AS srn,
         CAST(0 AS HUGEINT) AS base
  FROM (SELECT DISTINCT source, shard FROM pdata)
  UNION ALL
  SELECT q.source, q.shard, q.gid + 1,
         CASE WHEN q.ern = q.srn THEN q.ern + 1 ELSE q.ern END,
         CASE WHEN q.ern = q.srn THEN q.eps ELSE q.pps END
  FROM (
    SELECT b.source, b.shard, b.gid, b.srn,
           min(p.rn) AS ern, min(p.ps) AS eps,
           arg_min(p.ps - p.sz, p.rn) AS pps
    FROM pbounds b
    JOIN ppre p ON p.source = b.source AND p.shard = b.shard
              AND p.rn >= b.srn
              AND p.ps - b.base > 256
    GROUP BY b.source, b.shard, b.gid, b.srn
  ) q
),
ptot AS (
  SELECT source, shard, max(rn) AS mx, max(ps) AS total
  FROM ppre GROUP BY source, shard
),
pgrp AS (
  SELECT b.source, b.shard, b.gid,
         coalesce(lead(b.base) OVER w, t.total) - b.base AS toks
  FROM pbounds b
  JOIN ptot t ON t.source = b.source AND t.shard = b.shard
            AND b.srn <= t.mx
  WINDOW w AS (PARTITION BY b.source, b.shard ORDER BY b.gid)
)
{final}"""
)


def _funnel_family_sql(pdata: str, final: str) -> str:
    return _FUNNEL_TEMPLATE.format(
        de=_lang_list_sql("de"),
        en=_lang_list_sql("en"),
        es=_lang_list_sql("es"),
        fr=_lang_list_sql("fr"),
        pdata=pdata,
        final=final,
    )


_FUNNEL_SQL = _funnel_family_sql(
    "  SELECT source, doc_id % 4 AS shard, doc_id, n_tokens AS sz\n"
    "  FROM p4 WHERE s4",
    """SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
FROM p4
UNION ALL
SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
FROM p4 WHERE s1
UNION ALL
SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
FROM p4 WHERE s2
UNION ALL
SELECT 3, 'near_dup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
FROM p4 WHERE s3
UNION ALL
SELECT 4, 'train', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
FROM p4 WHERE s4
UNION ALL
SELECT 5, 'packed', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(toks), 0) AS BIGINT)
FROM pgrp
""",
)

# The release packs md5-bucket shards (sampling.hash_bucket's
# '0x'||substr(md5) parse, % RELEASE_N_SHARDS=8) and the manifest
# aggregates pdata itself: n_seqs comes from the pack recursion's
# per-(source, shard, gid) rows, the membership digests are the
# bit_xor 60-bit salted-hash pair (sampling.membership_checksums).
_RELEASE_MANIFEST_SQL = _funnel_family_sql(
    "  SELECT source,\n"
    "         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 8 AS shard,\n"
    "         doc_id, n_tokens AS sz\n"
    "  FROM p4 WHERE s4",
    """SELECT d.shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       q.n_seqs,
       CAST(sum(d.sz) AS BIGINT) AS n_tokens,
       bit_xor(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor,
       bit_xor(('0x' || substring(md5('m2|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) AS members_xor2
FROM pdata d
JOIN (SELECT shard, CAST(count(*) AS BIGINT) AS n_seqs
      FROM pgrp GROUP BY shard) q USING (shard)
GROUP BY d.shard, q.n_seqs
""",
)


def _corpus_release_manifest(spark, sf_dir):
    from iceberg_diag_spark.operators.funnel import corpus_release_manifest

    return corpus_release_manifest(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# Token-budget mixing plan with the repeating-data audit
# ------------------------------------------------------------------

def _data_mixing_plan(spark, sf_dir):
    return sampling.data_mixing_plan(_t(spark, sf_dir, "documents"))


_DATA_MIXING_SQL = """
WITH m AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source
),
p AS (
  SELECT source, mass,
         (sum(mass) OVER () * 1) // 2 AS budget,
         CAST(FLOOR(CAST((sum(mass) OVER () * 1) // 2 AS DOUBLE)
                    * pow(CAST(mass AS DOUBLE), 0.5)
                    / sum(pow(CAST(mass AS DOUBLE), 0.5)) OVER ())
              AS BIGINT) AS tokens_alloc,
         CAST(FLOOR(1000000.0 * pow(CAST(mass AS DOUBLE), 0.5)
                    / sum(pow(CAST(mass AS DOUBLE), 0.5)) OVER ())
              AS BIGINT) AS sample_share_ppm
  FROM m
)
SELECT source, mass, tokens_alloc, sample_share_ppm,
       CAST((1000000 * tokens_alloc) // greatest(mass, 1) AS BIGINT)
         AS epochs_ppm,
       (1000000 * tokens_alloc) // greatest(mass, 1) > 4000000
         AS over_repeat
FROM p
"""


# ------------------------------------------------------------------
# Mixing-plan executing sampler
# ------------------------------------------------------------------

def _data_mixing_sample(spark, sf_dir):
    return sampling.data_mixing_sample(_t(spark, sf_dir, "documents"))


_DATA_MIXING_SAMPLE_SQL = (
    r"""
WITH plan AS (SELECT source, tokens_alloc FROM (
"""
    + _DATA_MIXING_SQL.strip()
    + r"""
)),
keyed AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
pre AS (
  SELECT source, doc_id, w, k,
         coalesce(sum(w) OVER (
           PARTITION BY source ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prefix
  FROM keyed
),
chosen AS (
  SELECT p.source, p.w, pl.tokens_alloc
  FROM pre p JOIN plan pl USING (source)
  WHERE p.prefix < pl.tokens_alloc
)
SELECT source,
       CAST(max(tokens_alloc) AS BIGINT) AS tokens_alloc,
       CAST(count(*) AS BIGINT) AS n_docs_selected,
       CAST(sum(w) AS BIGINT) AS tokens_selected,
       CAST((CAST(1000000 AS HUGEINT) * sum(w))
            // greatest(max(tokens_alloc), 1) AS BIGINT) AS fill_ppm
FROM chosen GROUP BY source
"""
)


# Cross-increment near-dup reconciliation
# (funnel.release_neardup_reconcile: signatures persisted alongside the
# shards, probed per increment). The reconcile oracle runs the proven
# funnel chain (_funnel_family_sql) once per increment as a nested
# WITH RECURSIVE subchain scoped to that increment's documents, then
# the proven MinHash band-key chain (oracles_dedup._MINHASH_PAIRS_SQL's
# sig/keys idiom) over each survivor set.

# ------------------------------------------------------------------
# release_neardup_reconcile
# ------------------------------------------------------------------

# The increment split the registry entry uses: the same md5 bucket
# idiom as sampling.hash_bucket (and the release's own shard
# membership), at 2 buckets — deterministic, content-stable, and
# uniform, so near-dup pairs land cross-increment about half the
# time.
_BATCH_PRED = (
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " % 2 = {b}"
)


def _batch_survivor_chain(
    b: int,
    pdata: str = (
        "  SELECT source, 0 AS shard, doc_id, n_tokens AS sz\n"
        "  FROM p4 WHERE s4"
    ),
    final: str = "SELECT doc_id FROM p4 WHERE s4",
) -> str:
    """The full funnel chain (quality gate → exact dedup → CC
    near-dup collapse → holdout) scoped to increment `b`'s documents,
    as a standalone nested WITH RECURSIVE subquery yielding the
    released survivor ids — exactly what the batch=<b> release
    directory holds (the _RELEASE_MANIFEST_SQL-proven chain, with
    every `documents` reference rebound to the increment). `pdata`
    and `final` default to the reconcile entry's survivor-id form
    (rendered SQL byte-identical to the pre-parameter version,
    pinned in tests/test_round13_ops.py); the retraction oracle
    overrides both to get the per-doc release relation (real md5
    shards + packed seq/gid) for the retraction ledger."""
    inner = _funnel_family_sql(pdata=pdata, final=final)
    # rebind the three `documents` scans (fnorm, and the embedded
    # exact-collapse chash/rdocs) to the increment; the aliased form
    # first so the plain replace cannot corrupt it
    inner = inner.replace("FROM documents d JOIN", "FROM bdocs d JOIN")
    inner = inner.replace("FROM documents", "FROM bdocs")
    pred = _BATCH_PRED.format(b=b)
    return inner.replace(
        "WITH RECURSIVE fnorm",
        "WITH RECURSIVE bdocs AS MATERIALIZED (\n"
        f"  SELECT * FROM documents WHERE {pred}\n"
        "),\nfnorm",
        1,
    )


def _survivor_keys_cte(b: int) -> str:
    """Per-survivor MinHash band keys + normalized content hash for
    increment `b` — composes oracles_dedup._SIG_KEYS_CTES (the ONE
    definition of the 16-hash/4-band family, shared with
    _MINHASH_PAIRS_SQL so the two oracles cannot diverge) over the
    docs s{b} released. md5 here vs sha256 engine-side is
    equivalent: both sides only test content-hash EQUALITY."""
    from iceberg_diag_spark.plans.oracles_dedup import _SIG_KEYS_CTES

    return (
        rf"""
k{b} AS MATERIALIZED (
  WITH sdocs AS (
    SELECT d.doc_id,
           regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g') AS nt
    FROM documents d JOIN s{b} USING (doc_id)
  ),
  norm AS (
    SELECT doc_id, md5(nt) AS ch, string_split(nt, ' ') AS toks
    FROM sdocs
  ),
  eg AS (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= 3 THEN
        list_distinct(list_transform(
          generate_series(0, greatest(len(toks) - 3, 0)),
          i -> array_to_string(toks[i + 1 : i + 3], ' ')))
      ELSE [] END) AS gram
    FROM norm
  ),
  """
        + _SIG_KEYS_CTES
        + """
  SELECT k.doc_id, k.band, k.band_key, n.ch
  FROM keys k JOIN norm n USING (doc_id)
)"""
    )


_RECONCILE_SQL = (
    "WITH s0 AS MATERIALIZED (\n"
    + _batch_survivor_chain(0)
    + "\n),\ns1 AS MATERIALIZED (\n"
    + _batch_survivor_chain(1)
    + "\n),"
    + _survivor_keys_cte(0)
    + ","
    + _survivor_keys_cte(1)
    + """
SELECT CAST(0 AS BIGINT) AS batch_a, CAST(a.doc_id AS BIGINT) AS doc_a,
       CAST(1 AS BIGINT) AS batch_b, CAST(b.doc_id AS BIGINT) AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands,
       max(a.ch = b.ch) AS exact_dup
FROM k0 a JOIN k1 b ON a.band = b.band AND a.band_key = b.band_key
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""
)


def build_release_increments(docs, release: str):
    """Build the md5-bucket increment releases CONCURRENTLY (one
    driver thread per batch — guide-§2.6 job overlap: each increment's
    funnel is a chain of short, eagerly-checkpointed stages that
    leaves most cores idle at every stage tail, and the two builds
    write disjoint batch=<b> directories, so overlapping them is pure
    wall-clock recovery with byte-identical outputs). Returns the
    ordered (batch_id, docs) list the reconcile consumes. Shared by
    release_neardup_reconcile and release_retraction_apply."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators.sampling import hash_bucket

    def _build(b: int):
        d = docs.filter(hash_bucket(F.col("doc_id"), 2) == b)
        funnel._write_release(d, f"{release}/batch={b}")
        return (b, d)

    with ThreadPoolExecutor(max_workers=2) as pool:
        return list(pool.map(_build, (0, 1)))


def _release_neardup_reconcile(spark, sf_dir):
    """Build a genuine 2-increment release (the md5 doc-id bucket
    split), then reconcile it: per increment, persist the survivor
    band signatures alongside the shards and probe the accumulated
    store for cross-batch candidates. Temp dirs are removed after the
    result checkpoint (the ivf_probe_topk try/finally discipline)."""
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    release = tempfile.mkdtemp(prefix="reconcile_release_")
    sig = tempfile.mkdtemp(prefix="reconcile_sig_")
    try:
        incs = build_release_increments(docs, release)
        out = materialize(funnel.release_neardup_reconcile(
            spark, incs, release, sig
        ), eager=True)
    finally:
        shutil.rmtree(release, ignore_errors=True)
        shutil.rmtree(sig, ignore_errors=True)
    return out


# release_retraction_apply: the executing sink that closes the
# reconcile loop. release_neardup_reconcile NAMES the retraction
# candidates (doc_b, the later batch of each cross-increment duplicate
# pair); this entry APPLIES them: it rewrites only the affected
# batch/shard files of the written release and re-derives the
# per-batch manifest from what is actually on disk.
#
# Oracle: the proven funnel chain per increment (_batch_survivor_chain,
# parameterized to the release pdata form so each increment yields its
# full per-doc release relation: real md5 shards plus the packing
# recursion's per-doc group id), the proven MinHash band-key chain over
# each survivor set (_survivor_keys_cte), the pair probe collapsed to
# the distinct doc_b retraction set, and a per-batch ledger aggregate
# with the same bit_xor membership digests as _RELEASE_MANIFEST_SQL.
#
# The per-doc group id (gid) comes from interval containment against
# the pack recursion's boundaries (pbounds srn ranges in row-number
# space), the same fit-before-append partition the engine's
# pack_assign_from_counts computes, so counting distinct
# (shard, source, gid) among survivors equals the engine's per-shard
# count of distinct (source, seq_id) structs over the rewritten files.

# The release pdata form (shard = md5 bucket % RELEASE_N_SHARDS=8 —
# sampling.hash_bucket's parse, identical to _RELEASE_MANIFEST_SQL).
_RELEASE_PDATA = (
    "  SELECT source,\n"
    "         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT % 8 AS shard,\n"
    "         doc_id, n_tokens AS sz\n"
    "  FROM p4 WHERE s4"
)

# Extend the funnel chain past pgrp with the per-doc group mapping:
# each doc's rn (the pack order) lands in exactly one boundary
# interval [srn, next srn); the trailing overflow boundary (srn > mx)
# is dropped exactly as pgrp drops it.
_RELEASE_ROWS_FINAL = """, pband AS (
  SELECT b.source, b.shard, b.gid, b.srn,
         lead(b.srn) OVER (PARTITION BY b.source, b.shard ORDER BY b.gid) AS nsrn
  FROM pbounds b
  JOIN ptot t ON t.source = b.source AND t.shard = b.shard
            AND b.srn <= t.mx
),
prn AS (
  SELECT source, shard, doc_id, sz,
         row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
  FROM pdata
)
SELECT p.source, p.shard, p.doc_id, p.sz, b.gid
FROM prn p
JOIN pband b ON b.source = p.source AND b.shard = p.shard
            AND p.rn >= b.srn AND (b.nsrn IS NULL OR p.rn < b.nsrn)"""


def _batch_release_rows_chain(b: int) -> str:
    """Per-doc release relation for increment `b`: (source, shard,
    doc_id, sz, gid) — exactly the rows the batch=<b> directory
    holds, with gid the packed sequence the doc landed in."""
    return _batch_survivor_chain(
        b, pdata=_RELEASE_PDATA, final=_RELEASE_ROWS_FINAL
    )


_RETRACTION_SQL = (
    "WITH r0 AS MATERIALIZED (\n"
    + _batch_release_rows_chain(0)
    + "\n),\nr1 AS MATERIALIZED (\n"
    + _batch_release_rows_chain(1)
    + "\n),\ns0 AS MATERIALIZED (SELECT doc_id FROM r0),\n"
    "s1 AS MATERIALIZED (SELECT doc_id FROM r1),"
    + _survivor_keys_cte(0)
    + ","
    + _survivor_keys_cte(1)
    + """,
retr AS MATERIALIZED (
  SELECT DISTINCT b.doc_id AS doc_id
  FROM k0 a JOIN k1 b ON a.band = b.band AND a.band_key = b.band_key
),
led AS (
  SELECT 0 AS batch, source, shard, doc_id, sz, gid, FALSE AS rt
  FROM r0
  UNION ALL
  SELECT 1 AS batch, r.source, r.shard, r.doc_id, r.sz, r.gid,
         (t.doc_id IS NOT NULL) AS rt
  FROM r1 r LEFT JOIN retr t USING (doc_id)
)
SELECT CAST(batch AS BIGINT) AS batch,
       CAST(count(*) AS BIGINT) AS n_docs_before,
       CAST(count(*) FILTER (WHERE rt) AS BIGINT) AS n_retracted,
       CAST(count(*) FILTER (WHERE NOT rt) AS BIGINT) AS n_docs_after,
       CAST(count(DISTINCT CASE WHEN NOT rt THEN (shard, source, gid) END)
            AS BIGINT) AS n_seqs_after,
       CAST(sum(sz) AS BIGINT) AS n_tokens_before,
       CAST(coalesce(sum(sz) FILTER (WHERE rt), 0) AS BIGINT)
            AS n_tokens_retracted,
       CAST(coalesce(sum(sz) FILTER (WHERE NOT rt), 0) AS BIGINT)
            AS n_tokens_after,
       bit_xor(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
            FILTER (WHERE NOT rt) AS members_xor_after,
       bit_xor(('0x' || substring(md5('m2|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
            FILTER (WHERE NOT rt) AS members_xor2_after
FROM led
GROUP BY batch
ORDER BY batch
"""
)


def _release_retraction_apply(spark, sf_dir):
    """Build the same genuine 2-increment release as
    release_neardup_reconcile (the md5 doc-id bucket split), run the
    reconcile to get the cross-batch pairs, then EXECUTE the
    retraction against the written release and return the per-batch
    ledger re-derived from the rewritten files. Temp dirs removed
    after the result checkpoint (the ivf_probe_topk try/finally
    discipline)."""
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    release = tempfile.mkdtemp(prefix="retraction_release_")
    sig = tempfile.mkdtemp(prefix="retraction_sig_")
    try:
        incs = build_release_increments(docs, release)
        pairs = funnel.release_neardup_reconcile(spark, incs, release, sig)
        # sig_path exercises the signature-store purge under the
        # driver (ledger values are release-derived, so the oracle is
        # unchanged by it)
        out = materialize(funnel.release_retraction_apply(
            spark, pairs, release, sig_path=sig
        ), eager=True)
    finally:
        shutil.rmtree(release, ignore_errors=True)
        shutil.rmtree(sig, ignore_errors=True)
    return out


REGISTRY.update({
    "stratified_split": QuerySpec(
        _stratified_split, _STRATIFIED_SPLIT_SQL,
        "deterministic hash-bucket train/val/test split audited per "
        "source (counts + exact-membership md5)",
    ),
    "per_source_cap": QuerySpec(
        _per_source_cap, _PER_SOURCE_CAP_SQL,
        "per-domain document cap by hash order (WindowGroupLimit "
        "map-side top-k)",
    ),
    "source_mixture_weights": QuerySpec(
        _source_mixture, _SOURCE_MIXTURE_SQL,
        "alpha=0.5 temperature domain-mixture sampling weights "
        "(floor-ppm integers)",
    ),
    "nearest_centroid_confusion": QuerySpec(
        _centroid_confusion, _CENTROID_CONFUSION_SQL,
        "nearest-centroid classification confusion counts over the "
        "labeled embedding table",
    ),
    "token_entropy": QuerySpec(
        _token_entropy, _TOKEN_ENTROPY_SQL,
        "per-doc token-distribution entropy (perplexity-proxy quality "
        "signal, floor-millibit integers)",
    ),
    "embedding_quantize_int8": QuerySpec(
        _quantize_embeddings, _QUANTIZE_SQL,
        "symmetric per-vector int8 quantization with checksum-audited "
        "cells and floor-ppm scales",
    ),
    "source_overlap": QuerySpec(
        _source_overlap, _SOURCE_OVERLAP_SQL,
        "cross-source duplicate-content matrix on winnowing "
        "fingerprints (mirror-domain detector)",
    ),
    "user_event_paths": QuerySpec(
        _user_event_paths, _USER_PATHS_SQL,
        "first-k event-type path mining per user with occurrence "
        "counts (funnel discovery)",
    ),
    "events_skew_audit": QuerySpec(
        _skew_audit, _SKEW_AUDIT_SQL,
        "join/agg-key skew diagnostic: top-key row shares in exact "
        "ppm (the pre-salting measurement)",
    ),
    "dataset_card": QuerySpec(
        _dataset_card, _DATASET_CARD_SQL,
        "per (source, split) dataset card: docs, exact token budget, "
        "alpha-mixture share (split x mixture composition)",
    ),
    "join_cardinality_audit": QuerySpec(
        _join_cardinality, _JOIN_CARD_SQL,
        "pre-flight join-explosion detector: exact equi-join output "
        "cardinality + worst-key contribution from key-count sketches",
    ),
    "near_dup_rate_by_source": QuerySpec(
        _near_dup_by_source, _NEAR_DUP_BY_SOURCE_SQL,
        "near-dup candidate-pair counts per unordered source pair "
        "(fuzzy complement of the exact-hash source_overlap matrix)",
    ),
    "doc_weighted_sample": QuerySpec(
        _weighted_sample, _WEIGHTED_SAMPLE_SQL,
        "deterministic weight-proportional hash sample, audited per "
        "source with O(1)-state xor membership digests",
    ),
    "dedup_incremental": QuerySpec(
        _dedup_incremental, _DEDUP_INCREMENTAL_SQL,
        "incremental batch-vs-corpus dedup gate: exact / near_dup / "
        "novel per new doc via semi-join hash and LSH-band probes",
    ),
    "stream_quality_gate": QuerySpec(
        _stream_table(
            stream_ops.quality_gate_stream,
            "complete",
            "stream_quality_gate",
            stream_ops.read_documents_stream,
        ),
        _STREAM_QUALITY_GATE_SQL,
        "streaming per-source curation-gate monitor: running "
        "totals/pass counts with #domains-bounded state, same gate "
        "exprs as the batch pipeline",
    ),
    "quality_gate_ablation": QuerySpec(
        _quality_gate_ablation, _QUALITY_ABLATION_SQL,
        "curation-filter ablation: per gate total/exclusive kill "
        "counts + survivors (which filter does the work)",
    ),
    "label_silhouette": QuerySpec(
        _label_silhouette, _LABEL_SILHOUETTE_SQL,
        "centroid-silhouette label-separability audit over "
        "embeddings (own vs nearest-other centroid distance ratio)",
    ),
    "lang_confusion": QuerySpec(
        _lang_confusion, _LANG_CONFUSION_SQL,
        "predicted-vs-labeled language confusion matrix (label-noise "
        "audit for mixture weighting)",
    ),
    "corpus_top_ngrams": QuerySpec(
        _corpus_top_ngrams, _CORPUS_TOP_NGRAMS_SQL,
        "corpus-wide top-25 bigrams with occurrence + doc frequency "
        "(distributed top-k via TakeOrderedAndProject)",
    ),
    "stream_incremental_dedup": QuerySpec(
        _stream_incremental_dedup, _STREAM_INC_DEDUP_SQL,
        "streaming ingestion exact-dedup gate: stream-static hash "
        "semi-probe tags arrivals exact/novel with stateless stream "
        "side",
    ),
    "doc_dup_ngram_spans": QuerySpec(
        _dup_ngram_spans, _DUP_NGRAM_SPANS_SQL,
        "per-doc duplicated-substring audit: share of 8-gram "
        "positions repeated across >= 2 docs (suffix-array-dedup "
        "signal via relational ops)",
    ),
    "doc_winnow_fingerprints": QuerySpec(
        _winnow_fingerprints, _WINNOW_SQL,
        "MOSS winnowing fingerprints (min-hash per sliding gram "
        "window), per-doc count + commutative xor digest",
    ),
    "token_budget_waterfill": QuerySpec(
        _token_budget_waterfill, _WATERFILL_SQL,
        "closed-form water-filling allocation of a fixed token "
        "budget across sources (cap huge domains, take small whole)",
    ),
    "join_selectivity_audit": QuerySpec(
        _join_selectivity, _JOIN_SELECTIVITY_SQL,
        "pre-flight join input-participation audit: matched rows/keys "
        "per side in exact ppm (the semi-join/runtime-filter signal)",
    ),
    "doc_curriculum_shards": QuerySpec(
        _curriculum_shards, _CURRICULUM_SQL,
        "curriculum training-shard manifest: classifier quality bands "
        "x deterministic hash shards with doc/token counts and exact "
        "band shares — the training-loader input",
    ),
    "padding_waste_audit": QuerySpec(
        _padding_waste_audit, _PADDING_WASTE_SQL,
        "training-batch padding-waste audit: exact pad-token cost of "
        "global-max / power-of-two-bucket / sorted-batch padding "
        "policies (integer CASE-ladder buckets, distributed "
        "global-rank batching — the can't-pack fine-tuning "
        "counterpart of pack_sequences)",
    ),
    "exact_quota_holdout": QuerySpec(
        _exact_quota_holdout, _EXACT_QUOTA_SQL,
        "exact-proportion stratified holdout via largest-remainder "
        "apportionment (Hamilton method): total exactly "
        "floor(N*ppm/1e6), per-stratum deviation < 1 row, "
        "deterministic md5-order membership — the exact-quota "
        "complement of the hash-threshold stratified_split",
    ),
    "corpus_build_funnel": QuerySpec(
        _corpus_build_funnel, _FUNNEL_SQL,
        "fused corpus-build pipeline as one DAG: quality gate -> "
        "exact dedup -> connected-components near-dup collapse "
        "(component-min survivor, the production near_dup_clusters "
        "semantics) -> exact-quota holdout -> sequence packing, "
        "emitting the per-stage survivor funnel (the release dataset "
        "card); one enriched corpus pass + the banding chain, stages "
        "share a checkpointed narrow lineage",
    ),
    "corpus_release_manifest": QuerySpec(
        _corpus_release_manifest, _RELEASE_MANIFEST_SQL,
        "the funnel EXECUTES its release (advisor-executing pattern "
        "#5): stage-4 survivors shard by deterministic md5 bucket, "
        "pack per (source, shard) with the production "
        "fit-before-append fold, and emit the dataset card's "
        "file-level half — per shard: docs, packed sequences, token "
        "mass, and two salted bit_xor membership digests (O(1) agg "
        "state, verifiable by any shard consumer); "
        "funnel.corpus_release writes the same relation as shard=K "
        "parquet and re-derives this manifest from the written files",
    ),
    "data_mixing_plan": QuerySpec(
        _data_mixing_plan, _DATA_MIXING_SQL,
        "per-source token plan for a half-corpus training budget "
        "under temperature sampling (alpha=0.5), with the implied "
        "epoch count audited against the ~4-epoch repeating-data "
        "rule; one groupBy to the #sources relation, bounded windows",
    ),
    "data_mixing_sample": QuerySpec(
        _data_mixing_sample, _DATA_MIXING_SAMPLE_SQL,
        "mixing-plan EXECUTION (advisor-executing pattern #4): each "
        "source's token allocation realized as the deterministic "
        "md5-prefix document sample (first overshooting doc "
        "included), cumulative mass via the epoch_shuffle hex-shard "
        "idiom (no one-task-per-source window), broadcast plan join, "
        "per-source fill audit",
    ),
    "release_neardup_reconcile": QuerySpec(
        _release_neardup_reconcile, _RECONCILE_SQL,
        "cross-increment near-dup reconciliation — closes the "
        "incremental release's scoping contract (per-increment dedup "
        "cannot see pairs split across increments): each increment's "
        "released survivors get their production MinHash band "
        "signatures + content hash PERSISTED alongside the shards "
        "(idempotent batch=<id> overwrite, byte-stable key-bucketed "
        "files), and each new increment probes the accumulated store "
        "— a bucketed (band, band_key) join of written files, never "
        "all-pairs, never a re-read of prior increments' text; exact "
        "cross-batch dups surface with all bands shared and "
        "exact_dup=true via the persisted hash; doc_b (the later "
        "batch) is the retraction candidate",
    ),
    "release_retraction_apply": QuerySpec(
        _release_retraction_apply, _RETRACTION_SQL,
        "advisor-EXECUTING pattern #9 — APPLY the retraction "
        "release_neardup_reconcile names: every cross-batch pair's "
        "doc_b (the later, mutable-side batch) is removed from the "
        "written release surgically — only affected batch/shard "
        "directories are rewritten (dynamic partition overwrite; "
        "sibling shards never read, byte-untouched; fully-emptied "
        "shard dirs dropped via the Hadoop FS) — and the per-batch "
        "manifest (docs, surviving sequences, tokens, bit_xor "
        "membership digests) is re-derived FROM THE WRITTEN FILES "
        "(rewritten shards re-read from disk, untouched shards "
        "vouched by the pre-pass over the same bytes — the release "
        "is scanned exactly once); sig_path purges the retracted "
        "docs' reconcile signatures with the same surgical idiom so "
        "no later increment can pair against a doc that is gone; "
        "replay-idempotent: re-applying the same pairs retracts 0 "
        "and rewrites nothing",
    ),
})
