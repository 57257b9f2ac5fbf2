"""Dedup / text analysis over the documents table.

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from iceberg_diag_spark.operators import dedup, similarity, textops
from iceberg_diag_spark.plans.common import REGISTRY, QuerySpec, _t

# Operator tuning constants the oracle SQL below mirrors.
K_EM = 2
K_STEPS = 12
MAX_WORD_LEN = 24


# --------------------------------------------------------------------
# Dedup / text analysis (documents)
# --------------------------------------------------------------------

def _dedup_exact_groups(spark, sf_dir):
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = r"""
SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM documents
GROUP BY content_hash
"""


def _text_stats(spark, sf_dir):
    return textops.text_stats(_t(spark, sf_dir, "documents"))


_TEXT_STATS_SQL = r"""
WITH norm AS (
  SELECT doc_id, text,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_len,
       CAST(len(string_split(t, ' ')) AS BIGINT) AS token_count,
       CAST(len(list_distinct(string_split(t, ' '))) AS BIGINT) AS uniq_token_count,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS subword_count
FROM norm
"""


def _lang_stats(spark, sf_dir):
    return textops.lang_stats(_t(spark, sf_dir, "documents"))


_LANG_STATS_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
FROM documents
GROUP BY lang
"""


def _doc_fingerprint(spark, sf_dir):
    return textops.rolling_fingerprint(_t(spark, sf_dir, "documents"))


_DOC_FINGERPRINT_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 8 THEN
           list_distinct(list_transform(
             generate_series(0, greatest(len(toks) - 8, 0)),
             i -> array_to_string(toks[i + 1 : i + 8], ' ')))
         ELSE [] END AS grams
  FROM norm
)
SELECT doc_id,
       coalesce(list_min(list_transform(grams, g -> substring(md5(g), 1, 16))), '') AS fingerprint
FROM grams
"""


def _minhash_pairs(spark, sf_dir):
    return dedup.minhash_candidate_pairs(_t(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b", F.col("n_shared_bands").cast("long").alias("n_shared_bands")
    )


# Exact-duplicate pre-collapse — mirrors dedup.collapse_exact_
# duplicates: representatives (min doc_id per distinct normalized
# text) carry the fuzzy pipeline; collapsed members surface as
# (rep, member) star edges. Grouping by md5 here vs sha256 engine-
# side is equivalent: both group by identical normalized text.
_EXACT_COLLAPSE_CTE = r"""
chash AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
cgrp AS (SELECT ch, min(doc_id) AS keep FROM chash GROUP BY ch),
rdocs AS (SELECT d.* FROM documents d JOIN cgrp ON d.doc_id = cgrp.keep),
star AS (
  SELECT cgrp.keep AS doc_a, chash.doc_id AS doc_b
  FROM chash JOIN cgrp USING (ch)
  WHERE chash.doc_id <> cgrp.keep
)
"""

# The Carter-Wegman hash → 16-seed signature → 4-band key sub-chain
# (everything downstream of an `eg(doc_id, gram)` shingle relation) —
# the ONE definition of the MinHash family both the pair oracle here
# and the reconcile oracle compose, so the hash family and
# band width cannot silently diverge between oracles (byte-identity
# of _MINHASH_PAIRS_SQL under the extraction is pinned in
# tests/test_round12_ops.py).
_SIG_KEYS_CTES = r"""hh AS (
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
)"""

_MINHASH_PAIRS_SQL = r"""
WITH
""" + _EXACT_COLLAPSE_CTE.strip() + r""",
norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM rdocs
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
""" + _SIG_KEYS_CTES + r"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM keys a
JOIN keys b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
UNION ALL
SELECT doc_a, doc_b, CAST(4 AS BIGINT) AS n_shared_bands FROM star
"""


def _simhash(spark, sf_dir):
    return dedup.simhash64(_t(spark, sf_dir, "documents"))


def _simhash_near_dup(spark, sf_dir):
    return dedup.simhash_near_dup(
        _t(spark, sf_dir, "documents"), max_hamming=10
    ).select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# SimHash oracle: same md5-halves hash family as the Spark operator
# (g1 = bits 63..32, g2 = bits 31..0 — all bit tests on non-negative
# halves), fingerprint assembled arithmetically so the signed int64
# pattern matches bit-for-bit.
_SIMHASH_VOTES = ",\n         ".join(
    "sum(CASE WHEN ((g{half} >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}".format(
        half=1 if b >= 32 else 2, k=b - 32 if b >= 32 else b, b=b
    )
    for b in range(64)
)
_SIMHASH_ASSEMBLE = "\n         + ".join(
    "CASE WHEN b{b} > 0 THEN {val} ELSE 0 END".format(
        b=b, val="(-9223372036854775807 - 1)" if b == 63 else str(1 << b)
    )
    for b in range(64)
)

_SIMHASH_CTE = rf"""
toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
hh AS (
  SELECT doc_id,
         ('0x' || substring(md5(tok), 1, 8))::BIGINT AS g1,
         ('0x' || substring(md5(tok), 9, 8))::BIGINT AS g2
  FROM toks
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM hh GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         CAST({_SIMHASH_ASSEMBLE} AS BIGINT) AS simhash
  FROM votes
)
"""

_SIMHASH_SQL = f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM sh
"""

# The banded Spark plan is exact within the Hamming budget (pigeonhole
# guarantees no false negatives; distinct removes multi-band dupes),
# so the oracle can use the semantically-equal all-pairs form — fine
# at oracle scale, while the engine side stays bucketed. Fingerprints
# run over exact-collapse representatives; collapsed members surface
# as hamming-0 star pairs (mirrors simhash_near_dup collapse_exact).
_SIMHASH_NEAR_DUP_SQL = f"""
WITH {_EXACT_COLLAPSE_CTE.strip()},
{_SIMHASH_CTE.replace("FROM documents", "FROM rdocs")}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
UNION ALL
SELECT doc_a, doc_b, CAST(0 AS INTEGER) AS hamming FROM star
"""


def _exact_dedup_corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select(
        "doc_id", "text", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


_EXACT_DEDUP_CORPUS_SQL = r"""
WITH h AS (
  SELECT doc_id,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch)
SELECT d.doc_id, d.text, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d JOIN keep USING (doc_id)
"""


def _ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cands = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return dedup.ngram_jaccard_pairs(docs, cands).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# grams are computed over ALL documents (star members need their
# gram sets for the jaccard join) but LSH keys only over exact-
# collapse representatives — mirroring the engine, whose candidate
# relation is LSH(reps) ∪ star.
_NGRAM_JACCARD_SQL = r"""
WITH
""" + _EXACT_COLLAPSE_CTE.strip() + r""",
norm AS (
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
eg AS (
  SELECT g.doc_id, unnest(g.grams) AS gram
  FROM grams g JOIN cgrp ON g.doc_id = cgrp.keep
),
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
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  UNION
  SELECT doc_a, doc_b FROM star
)
SELECT c.doc_a, c.doc_b,
       round(CASE WHEN len(list_distinct(list_concat(ga.grams, gb.grams))) > 0
             THEN CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(ga.grams, gb.grams)))
             ELSE 0.0 END, 6) AS jaccard
FROM cands c
JOIN grams ga ON ga.doc_id = c.doc_a
JOIN grams gb ON gb.doc_id = c.doc_b
"""


def _ngram_containment(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cands = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return dedup.ngram_containment_pairs(docs, cands)


# same candidate chain as _NGRAM_JACCARD_SQL; the final projection is
# integer containment — no float surface anywhere.
_NGRAM_CONTAINMENT_SQL = r"""
WITH
""" + _EXACT_COLLAPSE_CTE.strip() + r""",
norm AS (
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
eg AS (
  SELECT g.doc_id, unnest(g.grams) AS gram
  FROM grams g JOIN cgrp ON g.doc_id = cgrp.keep
),
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
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  UNION
  SELECT doc_a, doc_b FROM star
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS inter_size,
       CAST(len(ga.grams) AS BIGINT) AS n_grams_a,
       CAST(len(gb.grams) AS BIGINT) AS n_grams_b,
       CASE WHEN len(ga.grams) > 0
            THEN CAST(FLOOR(len(list_intersect(ga.grams, gb.grams)) * 1000000.0
                            / len(ga.grams)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS cont_a_ppm,
       CASE WHEN len(gb.grams) > 0
            THEN CAST(FLOOR(len(list_intersect(ga.grams, gb.grams)) * 1000000.0
                            / len(gb.grams)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS cont_b_ppm
FROM cands c
JOIN grams ga ON ga.doc_id = c.doc_a
JOIN grams gb ON gb.doc_id = c.doc_b
"""


def _near_dup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return dedup.connected_components(docs.select("doc_id"), pairs)


# same minhash CTE chain as _MINHASH_PAIRS_SQL, then transitive
# closure via a recursive CTE: min reachable label == component min
_NEAR_DUP_CLUSTERS_SQL = r"""
WITH RECURSIVE
""" + _EXACT_COLLAPSE_CTE.strip() + r""",
norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM rdocs
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
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  UNION
  SELECT doc_a, doc_b FROM star
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
    SELECT doc_id, doc_id FROM documents
  UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def _tfidf_top_terms(spark, sf_dir):
    return textops.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(nn.n_docs / df.df), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN nn
),
ranked AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _near_dup_pagerank(spark, sf_dir):
    """PageRank over the MinHash-LSH near-dup graph (second iterative
    algorithm beside connected components): duplicate-cluster hubs
    rank highest — a centrality signal for choosing cluster
    representatives."""
    from iceberg_diag_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return pagerank(docs.select("doc_id"), pairs, iterations=10)


# Oracle: same minhash chain as the clusters oracle, then ten
# UNROLLED pagerank rounds (recursive CTEs cannot aggregate in the
# recursive term, but a fixed iteration count is just ten chained
# plain CTEs). Summation-order float drift across engines is ~1e-15
# relative — far inside the round(9) contract.
# MinHash-LSH candidate-pair chain through `prs` — shared by the
# PageRank and triangle-count oracles (both run over the near-dup
# pair graph).
_MINHASH_PRS_CTE = _EXACT_COLLAPSE_CTE.strip() + r""",
norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM rdocs
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
prs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  UNION
  SELECT doc_a, doc_b FROM star
)
"""

_PAGERANK_PREFIX = (
    "WITH "
    + _MINHASH_PRS_CTE.strip()
    + r""",
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM prs
  UNION ALL
  SELECT doc_b, doc_a FROM prs
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
pr0 AS (
  SELECT doc_id AS node, 1.0 / nn.n AS rank FROM documents CROSS JOIN nn
)
"""
)


def _pagerank_round(i: int) -> str:
    return f"""
pr{i + 1} AS (
  SELECT p.node,
         (0.15 / nn.n) + 0.85 * coalesce(c.s, 0.0) AS rank
  FROM (SELECT node FROM pr0) p
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(pp.rank / dg.d) AS s
    FROM edges e
    JOIN pr{i} pp ON pp.node = e.src
    JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.node = p.node
)
"""


_PAGERANK_SQL = (
    _PAGERANK_PREFIX
    + ","
    + ",".join(_pagerank_round(i) for i in range(10))
    + """
SELECT node AS doc_id, round(rank, 9) AS pagerank FROM pr10
"""
)


def _quality_scores(spark, sf_dir):
    return textops.quality_scores(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("type_token_ratio", 6).alias("type_token_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        "trigram_count",
        "dup_trigram_count",
    )


_QUALITY_SCORES_SQL = r"""
WITH norm AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
tri AS (
  SELECT doc_id, text, toks,
         [array_to_string(toks[i : i + 2], ' ')
          FOR i IN generate_series(1, len(toks) - 2)] AS trigrams
  FROM norm
)
SELECT doc_id,
       round(CAST(length(text) AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_token_len,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS type_token_ratio,
       round(CAST(len(list_intersect(toks,
             ['the','and','of','to','a','in','is','that','it','for'])) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS alpha_ratio,
       CAST(len(trigrams) AS BIGINT) AS trigram_count,
       CAST(len(trigrams) - len(list_distinct(trigrams)) AS BIGINT) AS dup_trigram_count
FROM tri
"""


def _language_id(spark, sf_dir):
    return textops.language_id(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "pred_lang",
        F.col("stopword_hits").cast("long").alias("stopword_hits"),
    )


def _lang_list_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang])
    return f"[{words}]"


_LANGUAGE_ID_SQL = rf"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, 'de' AS lang, len(list_intersect(toks, {_lang_list_sql('de')})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, 'en', len(list_intersect(toks, {_lang_list_sql('en')})) FROM norm
  UNION ALL
  SELECT doc_id, 'es', len(list_intersect(toks, {_lang_list_sql('es')})) FROM norm
  UNION ALL
  SELECT doc_id, 'fr', len(list_intersect(toks, {_lang_list_sql('fr')})) FROM norm
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS pred_lang,
       CAST(hits AS BIGINT) AS stopword_hits
FROM best WHERE rn = 1
"""


def _corpus_curation(spark, sf_dir):
    """The end-to-end training-data curation pipeline, composed from
    the individual operators: exact dedup (keep min doc_id per
    content hash) → quality gate (type-token ratio ≥ 0.4, alpha ratio
    ≥ 0.6) → language gate (stopword-ID confidently non-'und') →
    per-language stats of the surviving corpus. ONE scan, ONE
    data-bearing shuffle."""
    docs = _t(spark, sf_dir, "documents")
    q = textops.quality_exprs()
    best = textops.language_best()
    # ONE enriched projection feeds every gate — hash, quality, and
    # language are per-row, so they commute with dedup (the min-id
    # survivor keeps its own values). The dedup survivor is picked
    # with min(doc_id) OVER (PARTITION BY hash): one window shuffle
    # on the uniform 32-byte hash key. A keeper aggregate + semi join
    # re-derives the enriched lineage (sha256 + quality + language
    # exprs) on both join sides — measured as effectively the whole
    # 3.1 s bench cost of this query.
    enriched = dedup.ensure_parallelism(docs).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.sha2(dedup.normalized_text(F.col("text")), 256).alias("__ch"),
        q["type_token_ratio"].alias("__ttr"),
        q["alpha_ratio"].alias("__alpha"),
        F.when(best["hits"] > 0, best["lang"]).otherwise("und").alias("pred_lang"),
    )
    keep = F.min("doc_id").over(Window.partitionBy("__ch"))
    kept = enriched.withColumn("__keep", keep).filter(
        (F.col("doc_id") == F.col("__keep"))
        & (F.col("__ttr") >= 0.4)
        & (F.col("__alpha") >= 0.6)
        & (F.col("pred_lang") != "und")
    )
    return kept.groupBy("pred_lang").agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_CORPUS_CURATION_SQL = r"""
WITH h AS (
  SELECT doc_id,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch),
deduped AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
norm AS (
  SELECT doc_id, text, n_chars,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM deduped
),
quality AS (
  SELECT doc_id FROM norm
  WHERE CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.4
    AND CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) >= 0.6
),
scores AS (
  SELECT doc_id, 'de' AS lang, len(list_intersect(toks, {de})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, 'en', len(list_intersect(toks, {en})) FROM norm
  UNION ALL
  SELECT doc_id, 'es', len(list_intersect(toks, {es})) FROM norm
  UNION ALL
  SELECT doc_id, 'fr', len(list_intersect(toks, {fr})) FROM norm
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM scores
),
lang AS (
  SELECT doc_id, lang AS pred_lang FROM best WHERE rn = 1 AND hits > 0
)
SELECT l.pred_lang,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n.n_chars) AS BIGINT) AS total_chars,
       CAST(min(n.doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(n.doc_id) AS BIGINT) AS max_doc_id
FROM norm n
JOIN quality USING (doc_id)
JOIN lang l USING (doc_id)
GROUP BY l.pred_lang
"""

_CORPUS_CURATION_SQL = _CORPUS_CURATION_SQL.format(
    de=_lang_list_sql("de"),
    en=_lang_list_sql("en"),
    es=_lang_list_sql("es"),
    fr=_lang_list_sql("fr"),
)


def _curated_near_dup(spark, sf_dir):
    """End-to-end composition: text curation (exact dedup survivor +
    quality gates) feeding embedding near-dup — dedup the corpus
    FIRST, then look for semantic near-duplicates among survivors
    only (the standard ordering in a training-data pipeline: exact
    dedup is cheap and shrinks the quadratic-risk input). The
    survivor set semi-joins the embeddings on vec_id == doc_id."""
    docs = _t(spark, sf_dir, "documents")
    q = textops.quality_exprs()
    enriched = dedup.ensure_parallelism(docs).select(
        "doc_id",
        F.sha2(dedup.normalized_text(F.col("text")), 256).alias("__ch"),
        q["type_token_ratio"].alias("__ttr"),
        q["alpha_ratio"].alias("__alpha"),
    )
    keep = F.min("doc_id").over(Window.partitionBy("__ch"))
    survivors = (
        enriched.withColumn("__keep", keep)
        .filter(
            (F.col("doc_id") == F.col("__keep"))
            & (F.col("__ttr") >= 0.4)
            & (F.col("__alpha") >= 0.6)
        )
        .select(F.col("doc_id").alias("vec_id"))
    )
    emb = _t(spark, sf_dir, "embeddings").join(survivors, "vec_id", "semi")
    return similarity.embedding_near_dup(emb, threshold=0.45)


_CURATED_NEAR_DUP_SQL = r"""
WITH norm AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
enr AS (
  SELECT doc_id,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha
  FROM norm
),
surv AS (
  SELECT doc_id FROM (
    SELECT doc_id, ttr, alpha, min(doc_id) OVER (PARTITION BY ch) AS keep
    FROM enr
  ) WHERE doc_id = keep AND ttr >= 0.4 AND alpha >= 0.6
),
emb AS (
  SELECT * FROM embeddings WHERE vec_id IN (SELECT doc_id FROM surv)
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.embedding AS va, b.embedding AS vb
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
),
terms AS (
  SELECT vec_a, vec_b, unnest(va) AS x, unnest(vb) AS y FROM pairs
),
scored AS (
  SELECT vec_a, vec_b,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dotp,
         sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS aa,
         sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS bb
  FROM terms GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b,
       round(dotp / (sqrt(aa) * sqrt(bb)), 6) AS cos_sim
FROM scored
WHERE dotp / (sqrt(aa) * sqrt(bb)) >= 0.45
"""


# LLM-pipeline operators: within-doc repetition removal,
# unigram-LM perplexity proxy, and SemDeDup-style cluster-bucketed
# semantic dedup.
# --------------------------------------------------------------------

def _doc_line_dedup(spark, sf_dir):
    return textops.line_dedup(_t(spark, sf_dir, "documents"))


_DOC_LINE_DEDUP_SQL = r"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(text, '\. ') AS arr FROM documents
),
s AS (
  SELECT doc_id, len(arr) AS n_total,
         unnest(generate_series(1, len(arr))) AS pos, arr
  FROM arrs
),
sent AS (
  SELECT doc_id, n_total, pos, arr[pos] AS sent FROM s
),
first AS (
  SELECT doc_id, sent, min(pos) AS pos, max(n_total) AS n_total
  FROM sent GROUP BY doc_id, sent
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS kept_sentences,
       CAST(max(n_total) - count(*) AS BIGINT) AS removed_sentences,
       md5(string_agg(sent, '. ' ORDER BY pos)) AS cleaned_md5
FROM first GROUP BY doc_id
"""


def _doc_unigram_logprob(spark, sf_dir):
    return textops.unigram_logprob(_t(spark, sf_dir, "documents"))


_DOC_UNIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM vocab),
scored AS (
  SELECT term,
         CAST(FLOOR(-ln(cnt / n_total) * 1000000.0) AS BIGINT) AS nll_micro
  FROM vocab CROSS JOIN tot
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
       CAST(FLOOR(CAST(sum(nll_micro) AS DOUBLE) / count(*)) AS BIGINT) AS avg_nll_micro
FROM toks t JOIN scored USING (term)
GROUP BY t.doc_id
"""


def _bigram_logprob(spark, sf_dir):
    return textops.bigram_logprob(_t(spark, sf_dir, "documents"))


_BIGRAM_LOGPROB_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(0, len(toks) - 2),
                          i -> toks[i + 1] || ' ' || toks[i + 2])
         ELSE [] END) AS gram
  FROM norm
),
c2 AS (SELECT gram, count(*) AS c2 FROM bg GROUP BY gram),
c1 AS (SELECT string_split(gram, ' ')[1] AS w1, count(*) AS c1 FROM bg GROUP BY w1),
s AS (
  SELECT gram,
         CAST(FLOOR(-ln(CAST(c2 AS DOUBLE) / c1) * 1000000.0) AS BIGINT) AS nll_micro
  FROM c2 JOIN c1 ON string_split(c2.gram, ' ')[1] = c1.w1
)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll_micro) AS BIGINT) AS sum_nll_micro,
       CAST(FLOOR(CAST(sum(nll_micro) AS DOUBLE) / count(*)) AS BIGINT) AS avg_nll_micro
FROM bg JOIN s USING (gram)
GROUP BY bg.doc_id
"""


def _snapshot_diff(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # overlapping releases: thirds 1,2 are the old snapshot, thirds
    # 2,0 the new — third 2 is carried over verbatim, so all three
    # statuses (added/removed/retained) are exercised
    return dedup.snapshot_diff(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 != 1),
    )


_SNAPSHOT_DIFF_SQL = r"""
WITH a AS (
  SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         min(source) AS src_old, count(*) AS docs_old
  FROM documents WHERE doc_id % 3 <> 0 GROUP BY h
),
b AS (
  SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         min(source) AS src_new, count(*) AS docs_new
  FROM documents WHERE doc_id % 3 <> 1 GROUP BY h
),
j AS (
  SELECT a.src_old, b.src_new, a.docs_old, b.docs_new
  FROM a FULL OUTER JOIN b ON a.h = b.h
)
SELECT CASE WHEN docs_old IS NULL THEN 'added'
            WHEN docs_new IS NULL THEN 'removed'
            ELSE 'retained' END AS status,
       coalesce(src_old, src_new) AS source,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CAST(sum(coalesce(docs_old, 0)) AS BIGINT) AS docs_old,
       CAST(sum(coalesce(docs_new, 0)) AS BIGINT) AS docs_new
FROM j GROUP BY status, source
"""


def _quality_classifier(spark, sf_dir):
    return textops.quality_classifier_score(_t(spark, sf_dir, "documents"))


_QUALITY_CLASSIFIER_SQL = r"""
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
         ELSE [] END AS tri
  FROM f
),
z AS (
  SELECT doc_id,
         -2.3 + (-0.05) * mtl + 1.2 * ttr + 4.0 * sw + 2.5 * alpha
         + (-3.0) * (CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                     / greatest(len(tri), 1)) AS z
  FROM feats
)
SELECT doc_id,
       CAST(FLOOR(z * 1000000.0) AS BIGINT) AS z_micro,
       z >= 0 AS keep
FROM z
"""


def _tokenizer_fertility(spark, sf_dir):
    return textops.tokenizer_fertility(_t(spark, sf_dir, "documents"))


_TOKENIZER_FERTILITY_SQL = r"""
WITH per_doc AS (
  SELECT source,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS words,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS subwords,
         length(text) AS chars
  FROM documents
),
g AS (
  SELECT source,
         count(*) AS n_docs,
         sum(words) AS words,
         sum(subwords) AS subwords,
         sum(chars) AS chars
  FROM per_doc GROUP BY source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(words AS BIGINT) AS words,
       CAST(subwords AS BIGINT) AS subwords,
       CAST(FLOOR(subwords * 1000000.0 / greatest(words, 1)) AS BIGINT) AS fertility_ppm,
       CAST(FLOOR(chars * 1000000.0 / greatest(subwords, 1)) AS BIGINT) AS chars_per_subword_ppm
FROM g
"""


def _langid_margin(spark, sf_dir):
    return textops.langid_margin(_t(spark, sf_dir, "documents"))


def _lang_list_sql_margin(lang: str) -> str:
    from iceberg_diag_spark.operators.textops import STOPWORDS

    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_LANGID_MARGIN_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
""" + "\n  UNION ALL\n".join(
    "  SELECT doc_id, '{lang}' AS lang, "
    "len(list_intersect(toks, {lst})) AS hits FROM norm".format(
        lang=lang, lst=_lang_list_sql_margin(lang)
    )
    for lang in ("de", "en", "es", "fr")
) + r"""
),
ranked AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang DESC) AS rn
  FROM scores
)
SELECT b.doc_id, b.lang,
       CAST(b.hits AS BIGINT) AS hits,
       CAST(b.hits - s.hits AS BIGINT) AS margin
FROM ranked b JOIN ranked s ON b.doc_id = s.doc_id AND s.rn = 2
WHERE b.rn = 1
"""


def _contamination_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    evs = {
        "eval_a": docs.filter(F.col("doc_id") % 20 == 0),
        "eval_b": docs.filter(F.col("doc_id") % 20 == 10),
    }
    return textops.contamination_report(train, evs, n=8)


_CONTAMINATION_REPORT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
),
ev AS (
  SELECT 'eval_a' AS eval_set, g
  FROM (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
  UNION ALL
  SELECT 'eval_b', g
  FROM (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 10)
),
tr AS (
  SELECT gr.doc_id, d.source, gr.g
  FROM grams gr JOIN documents d USING (doc_id)
  WHERE gr.doc_id % 10 <> 0
),
hit_docs AS (
  SELECT e.eval_set, t.source, t.doc_id
  FROM tr t JOIN ev e ON t.g = e.g
  GROUP BY 1, 2, 3
),
h2 AS (
  SELECT eval_set, source, count(*) AS contaminated_docs
  FROM hit_docs GROUP BY 1, 2
),
tot AS (
  SELECT source, count(*) AS total_docs
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY source
)
SELECT eval_set, h2.source,
       CAST(contaminated_docs AS BIGINT) AS contaminated_docs,
       CAST(total_docs AS BIGINT) AS total_docs,
       CAST(FLOOR(contaminated_docs * 1000000.0 / total_docs) AS BIGINT)
         AS contaminated_ppm
FROM h2 JOIN tot ON h2.source = tot.source
"""


# --------------------------------------------------------------------
# Vocabulary coverage, readability, char-ngram
# novelty, dedup survivorship accounting, Jaccard threshold
# calibration, and exact distributed RFM segmentation.
# --------------------------------------------------------------------


def _vocab_oov_rate(spark, sf_dir):
    return textops.vocab_oov_rate(_t(spark, sf_dir, "documents"))


_VOCAB_OOV_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, TRUE AS in_vocab FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT 1024
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(FLOOR(1000000.0 * sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)
                  / count(*)) AS BIGINT) AS oov_ppm
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY source
"""


def _doc_readability(spark, sf_dir):
    return textops.readability_stats(_t(spark, sf_dir, "documents"))


_READABILITY_SQL = r"""
WITH c AS (
  SELECT doc_id,
         greatest(len(list_filter(
           string_split_regex(lower(text), '[.!?]+'),
           s -> trim(s) <> '')), 1) AS n_sents,
         greatest(len(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')), 1)
           AS n_words,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_sents AS BIGINT) AS n_sents,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CAST(FLOOR(1000.0 * (206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))))
         AS BIGINT) AS flesch_milli
FROM c
"""


def _doc_char_novelty(spark, sf_dir):
    return textops.char_ngram_novelty(_t(spark, sf_dir, "documents"))


_CHAR_NOVELTY_SQL = r"""
WITH g AS (
  SELECT doc_id,
         greatest(length(lower(text)) - 3, 0) AS n_grams,
         lower(text) AS t
  FROM documents
),
d AS (
  SELECT doc_id, n_grams,
         CASE WHEN n_grams > 0 THEN
           len(list_distinct(list_transform(
             generate_series(1, n_grams), i -> substr(t, i, 4))))
         ELSE 0 END AS distinct_grams
  FROM g
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(distinct_grams AS BIGINT) AS distinct_grams,
       CAST(CASE WHEN n_grams > 0
            THEN FLOOR(1000000.0 * distinct_grams / n_grams)
            ELSE 0 END AS BIGINT) AS novelty_ppm
FROM d
"""


def _dedup_survivorship(spark, sf_dir):
    return dedup.dedup_survivorship(_t(spark, sf_dir, "documents"))


_DEDUP_SURVIVORSHIP_SQL = r"""
WITH h AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS sz,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
m AS (
  SELECT *, min(doc_id) OVER (PARTITION BY ch) AS keep FROM h
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_total,
       CAST(sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_kept,
       CAST(sum(sz) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN doc_id <> keep THEN sz ELSE 0 END) AS BIGINT)
         AS bytes_dropped,
       CAST(FLOOR(1000000.0 * sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END)
                  / count(*)) AS BIGINT) AS keep_ppm
FROM m GROUP BY source
"""


def _jaccard_threshold_hist(spark, sf_dir):
    return dedup.jaccard_threshold_histogram(_t(spark, sf_dir, "documents"))


# reuses the full proven ngram_jaccard chain (exact-collapse → LSH
# bands → exact verification) as a subquery, then buckets the rounded
# jaccard into micro-deciles.
_JACCARD_HIST_SQL = (
    """
SELECT bucket_ppm, CAST(count(*) AS BIGINT) AS n_pairs
FROM (
  SELECT CASE WHEN ppm >= 1000000 THEN 1000000
              ELSE least(ppm, 999999) - least(ppm, 999999) % 100000
         END AS bucket_ppm
  FROM (
    SELECT CAST(FLOOR(jaccard * 1000000.0 + 0.5) AS BIGINT) AS ppm
    FROM ("""
    + _NGRAM_JACCARD_SQL
    + """) pj
  ) pp
) b
GROUP BY bucket_ppm
"""
)


def _near_dup_kcore(spark, sf_dir):
    from iceberg_diag_spark.operators.graph import kcore

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return kcore(docs.select("doc_id"), pairs, k=2, rounds=8)


def _kcore_sql() -> str:
    # 8 unrolled simultaneous-peel rounds (recursive CTEs cannot
    # aggregate in the recursive term — the PageRank contract), same
    # fixed count as the engine's loop.
    rounds = []
    for i in range(1, 9):
        prev = f"r{i - 1}"
        rounds.append(
            f"r{i} AS (SELECT s AS node FROM bd "
            f"JOIN {prev} a ON bd.s = a.node "
            f"JOIN {prev} b ON bd.d = b.node "
            f"GROUP BY s HAVING count(*) >= 2)"
        )
    return (
        "WITH "
        + _MINHASH_PRS_CTE.strip()
        + """,
bd AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM prs
       UNION ALL SELECT doc_b, doc_a FROM prs),
r0 AS (SELECT DISTINCT s AS node FROM bd),
"""
        + ",\n".join(rounds)
        + """
SELECT s AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM bd JOIN r8 a ON bd.s = a.node JOIN r8 b ON bd.d = b.node
GROUP BY s HAVING count(*) >= 2
"""
    )


_KCORE_SQL = _kcore_sql()


def _doc_template_clusters(spark, sf_dir):
    return textops.template_clusters(_t(spark, sf_dir, "documents"))


_TEMPLATE_CLUSTERS_SQL = r"""
WITH pre AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
         md5(array_to_string(
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[1:8],
           ' ')) AS template_md5
  FROM documents
)
SELECT template_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT row(source)) AS BIGINT) AS n_sources,
       CAST(min(doc_id) AS BIGINT) AS example_doc_id,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM pre
GROUP BY template_md5
HAVING count(*) >= 2
"""


def _source_vocab_tv(spark, sf_dir):
    return textops.source_tv_distance(_t(spark, sf_dir, "documents"))


_SOURCE_TV_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
),
totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY source),
vocab AS (
  SELECT tok FROM (
    SELECT tok, sum(c) AS gc FROM counts GROUP BY tok
    ORDER BY gc DESC, tok ASC LIMIT 1024
  )
),
counts_k AS (SELECT counts.* FROM counts JOIN vocab USING (tok)),
k_mass AS (SELECT source, sum(c) AS k_mass FROM counts_k GROUP BY source),
resid AS (
  SELECT totals.source, ' __other__ ' AS tok,
         CAST(tot - COALESCE(k_mass, 0) AS BIGINT) AS c
  FROM totals LEFT JOIN k_mass ON totals.source = k_mass.source
),
spine AS (SELECT tok, source FROM vocab CROSS JOIN (SELECT source FROM totals)),
grid AS (
  SELECT spine.tok, spine.source, COALESCE(counts_k.c, 0) AS c
  FROM spine LEFT JOIN counts_k
    ON spine.tok = counts_k.tok AND spine.source = counts_k.source
  UNION ALL
  SELECT tok, source, c FROM resid
),
paired AS (
  SELECT a.source AS source_a, b.source AS source_b, a.c AS c_a, b.c AS c_b,
         ta.tot AS tot_a, tb.tot AS tot_b
  FROM grid a JOIN grid b ON a.tok = b.tok AND a.source < b.source
  JOIN totals ta ON ta.source = a.source
  JOIN totals tb ON tb.source = b.source
)
SELECT source_a, source_b,
       CAST(max(tot_a) AS BIGINT) AS n_tokens_a,
       CAST(max(tot_b) AS BIGINT) AS n_tokens_b,
       CAST(floor(1000000.0 * (sum(abs(c_a * tot_b - c_b * tot_a))
                               / (2 * max(tot_a) * max(tot_b)))) AS BIGINT)
         AS tv_ppm
FROM paired
GROUP BY source_a, source_b
"""


# Pairwise clone detection, DSIR importance
# scores, Heaps-law vocabulary growth, file-size skew, split drift.
# --------------------------------------------------------------------

def _winnow_clone_pairs(spark, sf_dir):
    return dedup.winnow_clone_pairs(_t(spark, sf_dir, "documents"))


# Shares the winnowing CTE chain with _WINNOW_SQL; the pair stage
# mirrors the operator exactly: fingerprints in 2..64 docs, pairs
# within a fingerprint's posting list only, >= 2 shared fingerprints.
_WINNOW_CLONE_SQL = r"""
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
sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE wn = 4),
fpc AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN fpc USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


def _dsir_logratio(spark, sf_dir):
    return textops.dsir_logratio(_t(spark, sf_dir, "documents"))


_DSIR_SQL = r"""
WITH toks AS (
  SELECT doc_id, source = 'src0' AS is_t,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
vocab AS (
  SELECT term,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
  FROM toks GROUP BY term
),
tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cr) AS DOUBLE) AS nr,
               CAST(count(*) AS DOUBLE) AS v
        FROM vocab),
scored AS (
  SELECT term,
         CAST(FLOOR((ln(CAST(ct + 1 AS DOUBLE) / (nt + v))
                     - ln(CAST(cr + 1 AS DOUBLE) / (nr + v))) * 1000000.0)
              AS BIGINT) AS lr_micro
  FROM vocab CROSS JOIN tot
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lr_micro) AS BIGINT) AS sum_lr_micro,
       CAST(FLOOR(CAST(sum(lr_micro) AS DOUBLE) / count(*)) AS BIGINT) AS avg_lr_micro
FROM toks t JOIN scored USING (term)
GROUP BY t.doc_id
"""


def _vocab_growth_curve(spark, sf_dir):
    return textops.vocab_growth_curve(_t(spark, sf_dir, "documents"))


_VOCAB_GROWTH_SQL = r"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
toks AS (
  SELECT doc_id * 16 // (m + 1) AS shard_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents CROSS JOIN mx
),
per_shard AS (
  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY shard_id
),
first_seen AS (SELECT term, min(shard_id) AS shard_id FROM toks GROUP BY term),
news AS (
  SELECT shard_id, CAST(count(*) AS BIGINT) AS new_types
  FROM first_seen GROUP BY shard_id
)
SELECT CAST(p.shard_id AS BIGINT) AS shard_id, p.n_tokens,
       CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.shard_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
FROM per_shard p LEFT JOIN news n ON p.shard_id = n.shard_id
"""


# --------------------------------------------------------------------
# Retrieval scoring, SCD2 history, privacy audit,
# collocation mining
# --------------------------------------------------------------------

def _bm25_topk(spark, sf_dir):
    return textops.bm25_topk(_t(spark, sf_dir, "documents"))


_BM25_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
doclen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM doclen
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
         CAST(max(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS term
        FROM base) x
  WHERE term IN ('spark', 'join', 'window')
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(FLOOR(1000000.0
              * ln(1.0 + ((t.n_docs - dft.df + 0.5) / (dft.df + 0.5)))
              * ((tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / t.avgdl)))))
           AS BIGINT) AS s_micro
  FROM tf JOIN dft USING (term) CROSS JOIN totals t
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       CAST(sum(s_micro) AS BIGINT) AS bm25_micro
FROM scored GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id ASC
LIMIT 50
"""


def _hybrid_retrieval(spark, sf_dir):
    return textops.hybrid_retrieval_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
    )


_HYBRID_RETRIEVAL_SQL = r"""
WITH base AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
doclen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM doclen
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
         CAST(max(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS term
        FROM base) x
  WHERE term IN ('spark', 'join', 'window')
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         CAST(FLOOR(1000000.0
              * ln(1.0 + ((t.n_docs - dft.df + 0.5) / (dft.df + 0.5)))
              * ((tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (tf.dl / t.avgdl)))))
           AS BIGINT) AS s_micro
  FROM tf JOIN dft USING (term) CROSS JOIN totals t
),
bm AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(s_micro) AS BIGINT) AS bm25_micro
  FROM sc GROUP BY doc_id
  ORDER BY bm25_micro DESC, doc_id ASC
  LIMIT 50
),
fb AS (
  SELECT doc_id FROM bm
  ORDER BY bm25_micro DESC, doc_id ASC LIMIT 10
),
qv AS (
  SELECT vec_id AS doc_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 256) AS BIGINT)
           AS qd
  FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM bm)
),
fdim AS (
  SELECT pos, CAST(sum(qd) AS BIGINT) AS qs
  FROM qv WHERE doc_id IN (SELECT doc_id FROM fb)
  GROUP BY pos
),
qn AS (SELECT CAST(sum(qs * qs) AS BIGINT) AS nq2 FROM fdim),
dots AS (
  SELECT q.doc_id,
         CAST(sum(q.qd * f.qs) AS BIGINT) AS d,
         CAST(sum(q.qd * q.qd) AS BIGINT) AS nd2
  FROM qv q JOIN fdim f USING (pos)
  GROUP BY q.doc_id
),
rr AS (
  SELECT dots.doc_id,
         CAST(FLOOR(1000000.0 * dots.d
              / (sqrt(qn.nq2) * sqrt(dots.nd2))) AS BIGINT) AS cos_mppm
  FROM dots CROSS JOIN qn
  WHERE dots.nd2 > 0 AND qn.nq2 > 0
)
SELECT doc_id, rank, cos_mppm, n_terms_hit, bm25_micro
FROM (
  SELECT r.doc_id,
         CAST(row_number() OVER (ORDER BY r.cos_mppm DESC, r.doc_id ASC)
           AS BIGINT) AS rank,
         r.cos_mppm, b.n_terms_hit, b.bm25_micro
  FROM rr r JOIN bm b USING (doc_id)
) WHERE rank <= 10
"""


def _bpe_merge_candidates(spark, sf_dir):
    return textops.bpe_merge_candidates(_t(spark, sf_dir, "documents"))


_BPE_MERGE_SQL = r"""
WITH w AS (
  SELECT t AS w, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t
        FROM documents)
  WHERE len(t) >= 2
  GROUP BY t
),
p AS (
  SELECT substring(w, CAST(unnest(generate_series(1, len(w) - 1)) AS INTEGER), 2) AS pair,
         w, wc
  FROM w
)
SELECT pair,
       CAST(count(DISTINCT w) AS BIGINT) AS n_word_forms,
       CAST(sum(wc) AS BIGINT) AS merge_count
FROM p GROUP BY pair
ORDER BY merge_count DESC, pair ASC
LIMIT 20
"""


def _source_quality_calibration(spark, sf_dir):
    return textops.source_quality_calibration(
        _t(spark, sf_dir, "documents")
    )


_SOURCE_QUALITY_CAL_SQL = r"""
WITH s AS (
  SELECT doc_id, source,
         CAST(FLOOR(1000000
              * CAST(len(list_distinct(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')))
                AS BIGINT)
              / greatest(len(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')), 1))
           AS BIGINT) AS ttr_ppm
  FROM documents
),
r AS (
  SELECT doc_id, source, ttr_ppm,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY ttr_ppm, doc_id) AS BIGINT)
           AS src_rank,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM s
)
SELECT doc_id, source, ttr_ppm, src_rank,
       CAST(FLOOR(1000000 * (src_rank - 1) / greatest(n_s - 1, 1))
         AS BIGINT) AS pct_ppm
FROM r
"""


def _pii_density(spark, sf_dir):
    """Same synthetic PII footer as pii_redaction (the corpus ships
    clean), injected into every third doc so the per-source density
    varies and clean docs exercise the zero path."""
    docs = _t(spark, sf_dir, "documents")
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn "),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" ph 555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    tainted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, footer).otherwise(F.col("text")),
    )
    return textops.pii_density_by_source(tainted)


_PII_DENSITY_SQL = r"""
WITH t AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com ssn '
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' ph 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE text END AS t
  FROM documents
),
c AS (
  SELECT source,
         length(t) AS chars,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS s,
         len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS p
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN e + s + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_pii,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(s) AS BIGINT) AS n_ssns,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST((1000000 * sum(e + s + p)) // greatest(sum(chars), 1) AS BIGINT)
         AS pii_per_mchar
FROM c GROUP BY source
"""


def _ngram_dup_curve(spark, sf_dir):
    return dedup.ngram_dup_curve(_t(spark, sf_dir, "documents"))


_NGRAM_DUP_CURVE_SQL = r"""
WITH norm AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
g AS (
  SELECT ns.n,
         unnest(CASE WHEN len(toks) >= ns.n THEN
            list_transform(generate_series(0, len(toks) - ns.n),
                           i -> md5(array_to_string(toks[i+1:i+ns.n], ' ')))
         ELSE [] END) AS g
  FROM norm CROSS JOIN ns
),
pg AS (SELECT n, g, count(*) AS c FROM g GROUP BY n, g)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS total_grams,
       CAST(count(*) AS BIGINT) AS distinct_grams,
       CAST((CAST(sum(c) - count(*) AS HUGEINT) * 1000000) // sum(c)
            AS BIGINT) AS dup_ppm
FROM pg GROUP BY n
"""


def _clone_pairs_verified(spark, sf_dir):
    return dedup.clone_pairs_verified(_t(spark, sf_dir, "documents"))


_CLONE_VERIFIED_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
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
sel AS (SELECT DISTINCT doc_id, fp FROM win WHERE wn = 4),
fpc AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN fpc USING (fp)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 2
),
scored AS (
  SELECT c.doc_a, c.doc_b, c.shared_fps,
         CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS distance,
         CAST(FLOOR(1000000 * levenshtein(na.nt, nb.nt)
              / greatest(length(na.nt), length(nb.nt), 1)) AS BIGINT)
           AS dist_ppm
  FROM cand c
  JOIN norm na ON na.doc_id = c.doc_a
  JOIN norm nb ON nb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, shared_fps, distance, dist_ppm
FROM scored WHERE dist_ppm <= 200000
"""


def _quality_dup_matrix(spark, sf_dir):
    return textops.quality_dup_matrix(_t(spark, sf_dir, "documents"))


_QUALITY_DUP_MATRIX_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CAST(FLOOR(1000000
              * CAST(len(list_distinct(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')))
                AS BIGINT)
              / greatest(len(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')), 1))
           AS BIGINT) AS ttr_ppm,
         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM documents
),
dc AS (SELECT h, count(*) AS n FROM base GROUP BY h),
marked AS (
  SELECT ttr_ppm, CAST(dc.n > 1 AS BIGINT) AS is_dup
  FROM base JOIN dc USING (h)
),
qs AS (
  SELECT [quantile_cont(ttr_ppm, 0.1), quantile_cont(ttr_ppm, 0.2),
          quantile_cont(ttr_ppm, 0.3), quantile_cont(ttr_ppm, 0.4),
          quantile_cont(ttr_ppm, 0.5), quantile_cont(ttr_ppm, 0.6),
          quantile_cont(ttr_ppm, 0.7), quantile_cont(ttr_ppm, 0.8),
          quantile_cont(ttr_ppm, 0.9)] AS q
  FROM marked
),
bucketed AS (
  SELECT 1 + CAST(ttr_ppm > q[1] AS INT) + CAST(ttr_ppm > q[2] AS INT)
           + CAST(ttr_ppm > q[3] AS INT) + CAST(ttr_ppm > q[4] AS INT)
           + CAST(ttr_ppm > q[5] AS INT) + CAST(ttr_ppm > q[6] AS INT)
           + CAST(ttr_ppm > q[7] AS INT) + CAST(ttr_ppm > q[8] AS INT)
           + CAST(ttr_ppm > q[9] AS INT) AS decile,
         ttr_ppm, is_dup
  FROM marked CROSS JOIN qs
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS dup_docs,
       CAST((1000000 * sum(is_dup)) // count(*) AS BIGINT) AS dup_ppm,
       CAST(min(ttr_ppm) AS BIGINT) AS min_ttr_ppm,
       CAST(max(ttr_ppm) AS BIGINT) AS max_ttr_ppm
FROM bucketed GROUP BY decile
"""


def _quality_length_skyline(spark, sf_dir):
    return textops.quality_length_skyline(_t(spark, sf_dir, "documents"))


_SKYLINE_SQL = r"""
WITH s AS (
  SELECT doc_id,
         CAST(FLOOR(1000000
              * CAST(len(list_distinct(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')))
                AS BIGINT)
              / greatest(len(string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')), 1))
           AS BIGINT) AS ttr_ppm,
         CAST(len(text) AS BIGINT) AS chars
  FROM documents
),
g AS (SELECT ttr_ppm, max(chars) AS mx FROM s GROUP BY 1),
t AS (
  SELECT ttr_ppm, mx,
         COALESCE(max(mx) OVER (ORDER BY ttr_ppm DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) AS hi_mx
  FROM g
)
SELECT s.doc_id, s.ttr_ppm, s.chars
FROM s JOIN t USING (ttr_ppm)
WHERE s.chars > t.hi_mx AND s.chars = t.mx
"""


def _pmi_collocations(spark, sf_dir):
    return textops.pmi_collocations(_t(spark, sf_dir, "documents"))


_PMI_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
bg AS (
  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(0, len(toks) - 2),
                          i -> toks[i + 1] || ' ' || toks[i + 2])
         ELSE [] END) AS gram
  FROM norm
),
sp AS (
  SELECT string_split(gram, ' ')[1] AS w1,
         string_split(gram, ' ')[2] AS w2
  FROM bg
),
pairs AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM sp GROUP BY w1, w2 HAVING count(*) >= 5
),
lft AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_a FROM sp GROUP BY w1),
rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS c_b FROM sp GROUP BY w2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sp)
SELECT w1, w2, n_pair,
       CAST(FLOOR(1000000.0
            * (ln(CAST(n_pair AS DOUBLE)) + ln(CAST(n_total AS DOUBLE))
               - ln(CAST(c_a AS DOUBLE)) - ln(CAST(c_b AS DOUBLE))))
         AS BIGINT) AS pmi_micro
FROM pairs JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
LIMIT 100
"""


# Repetition profile (Gopher filter stats)
# --------------------------------------------------------------------

def _doc_repetition_profile(spark, sf_dir):
    return textops.doc_repetition_profile(_t(spark, sf_dir, "documents"))


_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
),
toks AS (
  SELECT doc_id, string_split(norm, ' ') AS t,
         CAST(length(norm) AS BIGINT) AS tc
  FROM base
),
g AS (
  SELECT toks.doc_id, tc, ns.n,
         unnest(CASE WHEN len(t) >= ns.n THEN
            list_transform(generate_series(1, len(t) - ns.n + 1),
                           i -> array_to_string(t[i:i+ns.n-1], ' '))
         ELSE [] END) AS g
  FROM toks CROSS JOIN (SELECT unnest([2, 3, 5]) AS n) ns
),
cg AS (SELECT doc_id, tc, n, g, CAST(count(*) AS BIGINT) AS c
       FROM g GROUP BY ALL),
tops AS (
  SELECT doc_id, n, g, c FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                 ORDER BY c DESC, g) AS rn
    FROM cg) WHERE rn = 1
),
dup5 AS (
  SELECT doc_id,
         CAST(COALESCE(sum((c - 1) * length(g)) FILTER (c > 1), 0)
              AS BIGINT) AS dc
  FROM cg WHERE n = 5 GROUP BY doc_id
),
pd AS (
  SELECT toks.doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         tc AS n_chars,
         COALESCE(t2.g, '') AS top_bigram,
         COALESCE(t2.c, 0) AS top_bigram_cnt,
         (1000000 * COALESCE(t2.c, 0) * length(COALESCE(t2.g, '')))
           // greatest(tc, 1) AS top_bigram_ppm,
         (1000000 * COALESCE(t3.c, 0) * length(COALESCE(t3.g, '')))
           // greatest(tc, 1) AS top_trigram_ppm,
         (1000000 * COALESCE(dup5.dc, 0)) // greatest(tc, 1) AS dup5_ppm
  FROM toks
  LEFT JOIN tops t2 ON t2.doc_id = toks.doc_id AND t2.n = 2
  LEFT JOIN tops t3 ON t3.doc_id = toks.doc_id AND t3.n = 3
  LEFT JOIN dup5 ON dup5.doc_id = toks.doc_id
)
SELECT doc_id, n_words, n_chars, top_bigram,
       CAST(top_bigram_cnt AS BIGINT) AS top_bigram_cnt,
       CAST(top_bigram_ppm AS BIGINT) AS top_bigram_ppm,
       CAST(top_trigram_ppm AS BIGINT) AS top_trigram_ppm,
       CAST(dup5_ppm AS BIGINT) AS dup5_ppm,
       ((top_bigram_ppm > 180000 AND top_bigram_cnt >= 2)
        OR dup5_ppm > 150000) AS repetitive
FROM pd ORDER BY doc_id
"""


def _token_zipf_curve(spark, sf_dir):
    return textops.token_zipf_curve(_t(spark, sf_dir, "documents"))


_ZIPF_SQL = r"""
WITH tok AS (
  SELECT unnest(string_split(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
  FROM documents
),
cnts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok WHERE token <> '' GROUP BY token
),
tot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS total FROM cnts),
top AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS rank,
         sum(CAST(cnt AS HUGEINT))
           OVER (ORDER BY cnt DESC, token) AS cum
  FROM cnts
  ORDER BY cnt DESC, token LIMIT 50
)
SELECT CAST(rank AS BIGINT) AS rank, token, cnt,
       CAST((CAST(cnt AS HUGEINT) * 1000000) // total AS BIGINT)
         AS share_ppm,
       CAST((cum * 1000000) // total AS BIGINT) AS cum_share_ppm
FROM top CROSS JOIN tot
ORDER BY rank
"""


def _dedup_method_agreement(spark, sf_dir):
    return dedup.dedup_method_agreement(_t(spark, sf_dir, "documents"))


# Venn of the two fuzzy-dedup pair relations: each side is the
# EXISTING oracle chain verbatim (CTE-in-subquery keeps their CTE
# names scoped), so this oracle stays true to the green definitions.
_DEDUP_AGREEMENT_SQL = f"""
WITH mh AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
),
shp AS (
  SELECT doc_a, doc_b FROM ({_SIMHASH_NEAR_DUP_SQL})
),
j AS (
  SELECT mh.doc_a IS NOT NULL AS in_mh, shp.doc_a IS NOT NULL AS in_sh
  FROM mh FULL OUTER JOIN shp
    ON mh.doc_a = shp.doc_a AND mh.doc_b = shp.doc_b
)
SELECT CAST(sum(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash,
       CAST(sum(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
       CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END) AS BIGINT)
         AS only_minhash,
       CAST(sum(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END) AS BIGINT)
         AS only_simhash,
       CAST(count(*) AS BIGINT) AS n_union,
       CAST((1000000 * sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END))
            // greatest(count(*), 1) AS BIGINT) AS overlap_ppm
FROM j
"""


def _text_artifact_audit(spark, sf_dir):
    return textops.text_artifact_audit(_t(spark, sf_dir, "documents"))


_ARTIFACT_AUDIT_SQL = r"""
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(len(regexp_extract_all(text, '&(amp|lt|gt|quot|nbsp|#\d+);'))
              AS BIGINT) AS ent,
         CAST(len(regexp_extract_all(text, '<[a-zA-Z/][^>]*>'))
              AS BIGINT) AS tag,
         CAST(len(regexp_extract_all(text, 'https?://[^\s]+'))
              AS BIGINT) AS url,
         CAST(len(regexp_extract_all(text,
              '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS ctl,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dig
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(sum(ent) AS BIGINT) AS entity_hits,
       CAST(sum(tag) AS BIGINT) AS tag_hits,
       CAST(sum(url) AS BIGINT) AS url_hits,
       CAST(sum(ctl) AS BIGINT) AS ctrl_hits,
       CAST(sum(dig) AS BIGINT) AS digit_chars,
       CAST((1000000 * (sum(ent) + sum(tag) + sum(url) + sum(ctl)))
            // greatest(sum(chars), 1) AS BIGINT) AS artifact_ppm,
       CAST((1000000 * sum(dig)) // greatest(sum(chars), 1) AS BIGINT)
         AS digit_ppm
FROM per_doc GROUP BY source ORDER BY source
"""


# Exact-substring dedup (Lee et al. remove-the-span half)
# ------------------------------------------------------------------

def _doc_substring_dedup(spark, sf_dir):
    # span=15 (paper default 50) sized to the synthetic corpus:
    # documents average ~50 tokens, so a 50-token span would only
    # ever fire on full-doc duplicates and test nothing.
    return dedup.substring_dedup(_t(spark, sf_dir, "documents"), span=15)

_SUBSTRING_DEDUP_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok,
         CASE WHEN i + 15 <= len(toks)
              THEN md5(array_to_string(toks[i + 1 : i + 15], ' ')) END AS gh
  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS i
        FROM norm)
),
dup AS (
  SELECT gh FROM (
    SELECT gh, count(DISTINCT doc_id) AS nd
    FROM pos WHERE gh IS NOT NULL GROUP BY gh
  ) WHERE nd >= 2
),
cov AS (
  SELECT p.doc_id, p.pos, p.tok,
         max(CASE WHEN d.gh IS NOT NULL THEN 1 END)
           OVER (PARTITION BY p.doc_id ORDER BY p.pos
                 ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS cv
  FROM pos p LEFT JOIN dup d ON p.gh = d.gh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(cv) AS BIGINT) AS n_removed,
       md5(coalesce(
         array_to_string(
           list(tok ORDER BY pos) FILTER (WHERE cv IS NULL), ' '),
         '')) AS cleaned_md5
FROM cov GROUP BY doc_id
"""


# ------------------------------------------------------------------
# Per-source two-sample KS drift test on document length
# ------------------------------------------------------------------

def _source_length_ks(spark, sf_dir):
    return textops.source_length_ks(_t(spark, sf_dir, "documents"))


_SOURCE_LENGTH_KS_SQL = """
WITH sv AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY source, n_chars
),
vals AS (SELECT v, sum(cnt) AS gcnt FROM sv GROUP BY v),
valc AS (SELECT v, sum(gcnt) OVER (ORDER BY v) AS cum_g FROM vals),
srcs AS (SELECT source, sum(cnt) AS n_source FROM sv GROUP BY source),
tot AS (SELECT sum(cnt) AS n_total FROM sv),
grid AS (
  SELECT s.source, s.n_source, c.v, c.cum_g, coalesce(sv.cnt, 0) AS cnt
  FROM srcs s CROSS JOIN valc c
  LEFT JOIN sv ON sv.source = s.source AND sv.v = c.v
),
ecdf AS (
  SELECT source, n_source, cum_g,
         sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum_s
  FROM grid
),
agg AS (
  SELECT source, n_source,
         (SELECT n_total FROM tot) - n_source AS n_rest,
         max(abs(cum_s * ((SELECT n_total FROM tot) - n_source)
                 - (cum_g - cum_s) * n_source)) AS d_num
  FROM ecdf GROUP BY source, n_source
)
SELECT source,
       CAST(n_source AS BIGINT) AS n_source,
       CAST(n_rest AS BIGINT) AS n_rest,
       CAST(d_num AS BIGINT) AS d_num,
       CAST((1000000 * d_num) // (n_source * n_rest) AS BIGINT) AS d_ppm,
       CAST(d_num AS HUGEINT) * d_num * 1000000
         > CAST(1844164 AS HUGEINT)
           * (n_source + n_rest) * n_source * n_rest AS reject_95
FROM agg
"""


# ------------------------------------------------------------------
# LSH banding-parameter advisor
# ------------------------------------------------------------------

def _lsh_param_advisor(spark, sf_dir):
    return dedup.lsh_param_advisor(_t(spark, sf_dir, "documents"))


def _ppm_pow(base_expr: str, exp: int) -> str:
    """Unrolled floored ppm-power chain, identical to the Spark
    aggregate-over-sequence fold (one floor per multiply)."""
    e = "1000000"
    for _ in range(exp):
        e = f"(({e}) * ({base_expr})) // 1000000"
    return e


def _ppm_catch_const(s_ppm: int, r: int, b: int) -> int:
    p1 = 1_000_000
    for _ in range(r):
        p1 = (p1 * s_ppm) // 1_000_000
    miss = 1_000_000
    for _ in range(b):
        miss = (miss * (1_000_000 - p1)) // 1_000_000
    return 1_000_000 - miss


def _lsh_param_sql() -> str:
    branches = []
    for i, (b, r) in enumerate(dedup.LSH_PARAM_CONFIGS):
        p1 = _ppm_pow("s", r)
        miss = _ppm_pow("(1000000 - p1)", b)
        c50 = _ppm_catch_const(500_000, r, b)
        c70 = _ppm_catch_const(700_000, r, b)
        c90 = _ppm_catch_const(900_000, r, b)
        branches.append(f"""
SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       CAST(sum(n_pairs * (1000000 - ({miss}))) // 1000000 AS BIGINT)
         AS expected_caught_pairs,
       CAST({c50} AS BIGINT) AS catch_at_50_ppm,
       CAST({c70} AS BIGINT) AS catch_at_70_ppm,
       CAST({c90} AS BIGINT) AS catch_at_90_ppm
FROM (SELECT s, n_pairs, {p1} AS p1 FROM hm) c{i}""")
    return (
        """
WITH hm AS (
  SELECT CAST(CASE WHEN bucket_ppm >= 1000000 THEN 1000000
              ELSE bucket_ppm + 50000 END AS BIGINT) AS s, n_pairs
  FROM ("""
        + _JACCARD_HIST_SQL
        + """) h
)"""
        + "\nUNION ALL\n".join(branches)
    )


_LSH_PARAM_SQL = _lsh_param_sql()


# ------------------------------------------------------------------
# PSI drift of the quality-score distribution
# ------------------------------------------------------------------

def _quality_psi_drift(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # the snapshot_diff release convention: thirds 1,2 = old, 2,0 =
    # new — third 2 carries over, so the score distribution genuinely
    # overlaps and PSI measures the release-to-release shift
    return textops.quality_psi_drift(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 != 1),
    )


# The classifier oracle is reused verbatim per side, with the
# snapshot filter applied at its scan.
def _psi_side_sql(pred: str) -> str:
    body = _QUALITY_CLASSIFIER_SQL.replace(
        "FROM documents", f"FROM documents WHERE {pred}"
    )
    return f"""
  SELECT CAST((z_micro + 20000000) // 500000 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM ({body}) GROUP BY 1
"""


_QUALITY_PSI_SQL = f"""
WITH ob AS ({_psi_side_sql("doc_id % 3 <> 0")}),
nb AS ({_psi_side_sql("doc_id % 3 <> 1")}),
j AS (
  SELECT coalesce(ob.bucket, nb.bucket) AS bucket,
         coalesce(ob.n, 0) AS n_old, coalesce(nb.n, 0) AS n_new
  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket
),
s AS (
  SELECT bucket, n_old, n_new,
         CAST(n_old + 1 AS DOUBLE)
           / (sum(n_old) OVER () + count(*) OVER ()) AS p_old,
         CAST(n_new + 1 AS DOUBLE)
           / (sum(n_new) OVER () + count(*) OVER ()) AS p_new
  FROM j
)
SELECT bucket, n_old, n_new,
       CAST(FLOOR((p_new - p_old) * ln(p_new / p_old) * 1000000.0)
            AS BIGINT) AS psi_micro
FROM s
"""


# ------------------------------------------------------------------
# Interpolated Kneser-Ney bigram table
# ------------------------------------------------------------------

def _bigram_kneser_ney(spark, sf_dir):
    return textops.bigram_kneser_ney(_t(spark, sf_dir, "documents"))


_BIGRAM_KN_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
bg AS (
  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(0, len(toks) - 2),
                          i -> toks[i + 1] || ' ' || toks[i + 2])
         ELSE [] END) AS gram
  FROM norm
),
c2 AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS c2,
         string_split(gram, ' ')[1] AS w1,
         string_split(gram, ' ')[2] AS w2
  FROM bg GROUP BY gram
),
lft AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1w,
         CAST(count(*) AS BIGINT) AS n1p_w1
  FROM c2 GROUP BY w1
),
rgt AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1p_w2 FROM c2 GROUP BY w2
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c2)
SELECT gram, c2 AS n_pair, c1w AS n_left_total,
       CAST((1000000 * c2) // c1w AS BIGINT) AS mle_ppm,
       CAST((1000000 * (4 * c2 - 3)) // (4 * c1w)
            + (CAST(3000000 AS HUGEINT) * n1p_w1 * n1p_w2)
              // (CAST(4 AS HUGEINT) * c1w * ntot)
            AS BIGINT) AS kn_ppm
FROM c2 JOIN lft USING (w1) JOIN rgt USING (w2), tot
ORDER BY n_pair DESC, gram ASC
LIMIT 100
"""


# CCNet loop closed — KN perplexity scoring + source bands
# ------------------------------------------------------------------

def _doc_kn_nll(spark, sf_dir):
    return textops.doc_kn_nll(_t(spark, sf_dir, "documents"))


def _doc_kn_perplexity(spark, sf_dir):
    return textops.doc_kn_perplexity(_t(spark, sf_dir, "documents"))


# Shared NLL chain: the bigram_kneser_ney table CTEs, then per-gram
# probability (pruned-table CASE + continuation backoff, 1-ppm floor),
# per-position micro-nat floor, exact per-doc integer sums.
_KN_NLL_CTE = r"""
norm AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(0, len(toks) - 2),
                          i -> toks[i + 1] || ' ' || toks[i + 2])
         ELSE [] END) AS gram
  FROM norm
),
c2 AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS c2,
         string_split(gram, ' ')[1] AS w1,
         string_split(gram, ' ')[2] AS w2
  FROM bg GROUP BY gram
),
lft AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1w,
         CAST(count(*) AS BIGINT) AS n1p_w1
  FROM c2 GROUP BY w1
),
rgt AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1p_w2 FROM c2 GROUP BY w2
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c2),
gs AS (
  SELECT gram,
         greatest(CAST(1 AS BIGINT), CASE WHEN c2 >= 2 THEN
           CAST((1000000 * (4 * c2 - 3)) // (4 * c1w)
                + (CAST(3000000 AS HUGEINT) * n1p_w1 * n1p_w2)
                  // (CAST(4 AS HUGEINT) * c1w * ntot) AS BIGINT)
         ELSE CAST((3000000 * n1p_w2) // (4 * ntot) AS BIGINT) END)
           AS p_ppm
  FROM c2 JOIN lft USING (w1) JOIN rgt USING (w2), tot
),
nl AS (
  SELECT gram,
         CAST(floor(-ln(p_ppm / 1000000.0) * 1000000.0) AS BIGINT)
           AS nll_micro
  FROM gs
),
per_doc AS (
  SELECT bg.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(nll_micro) AS BIGINT) AS nll_micro
  FROM bg JOIN nl USING (gram) GROUP BY bg.doc_id
)
"""

_DOC_KN_NLL_SQL = (
    "WITH " + _KN_NLL_CTE.strip() + r"""
SELECT d.doc_id, d.source, p.n_bigrams, p.nll_micro,
       CAST(p.nll_micro // p.n_bigrams AS BIGINT) AS avg_nll_micro
FROM per_doc p JOIN documents d USING (doc_id)
"""
)

_DOC_KN_PERPLEXITY_SQL = (
    "WITH " + _KN_NLL_CTE.strip() + r""",
banded AS (
  SELECT d.source,
         CAST(p.nll_micro // p.n_bigrams AS BIGINT) AS avg_nll_micro,
         ntile(10) OVER (
           PARTITION BY d.source
           ORDER BY p.nll_micro // p.n_bigrams, d.doc_id) AS band
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT source, CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(avg_nll_micro) AS BIGINT) AS lo_avg_nll_micro,
       CAST(max(avg_nll_micro) AS BIGINT) AS hi_avg_nll_micro
FROM banded GROUP BY source, band
"""
)


# ------------------------------------------------------------------
# Advisor-executing LSH banding (the sorted_rewrite pattern)
# ------------------------------------------------------------------

def _lsh_near_dup_tuned(spark, sf_dir):
    return dedup.lsh_near_dup_tuned(_t(spark, sf_dir, "documents"))


# Pick rule mirrored verbatim from dedup.lsh_near_dup_tuned: cheapest
# config meeting the 0.7-recall floor, else max recall; ties on bands
# ascending. The advisor subquery is _LSH_PARAM_SQL verbatim (DuckDB
# scopes its inner WITH), the signature chain is the production
# exact-collapsed one, and the tuned keys group seeds by
# seed // picked rows_per_band.
_LSH_TUNED_SQL = (
    r"""
WITH
"""
    + _EXACT_COLLAPSE_CTE.strip()
    + r""",
norm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM rdocs
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
adv AS (SELECT * FROM (
"""
    + _LSH_PARAM_SQL.strip()
    + r"""
)),
pick AS (
  SELECT bands, rows_per_band FROM adv
  ORDER BY (catch_at_70_ppm >= 950000) DESC,
           CASE WHEN catch_at_70_ppm >= 950000
                THEN expected_caught_pairs
                ELSE -catch_at_70_ppm END ASC,
           bands ASC
  LIMIT 1
),
tk0 AS (
  SELECT doc_id, CAST(seed // p.rows_per_band AS INTEGER) AS band,
         seed, minhash
  FROM sig CROSS JOIN pick p
),
tkeys AS (
  SELECT doc_id, band,
         array_to_string(list(minhash ORDER BY seed), '|') AS band_key
  FROM tk0 GROUP BY doc_id, band
),
tpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM tkeys a
  JOIN tkeys b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
allp AS (
  SELECT doc_a, doc_b, n_shared_bands FROM tpairs
  UNION ALL
  SELECT star.doc_a, star.doc_b, CAST(p.bands AS BIGINT)
  FROM star CROSS JOIN pick p
)
SELECT ap.doc_a, ap.doc_b, ap.n_shared_bands, p.bands, p.rows_per_band
FROM allp ap CROSS JOIN pick p
"""
)


# ------------------------------------------------------------------
# Iterated BPE trainer (k unrolled merge blocks)
# ------------------------------------------------------------------

def _bpe_train_merges(spark, sf_dir):
    return textops.bpe_train_merges(_t(spark, sf_dir, "documents"), k=8)


def _bpe_train_sql(k: int = 8) -> str:
    """k unrolled merge blocks, each: pair-count over the previous
    word relation, deterministic top-1 (cnt DESC, pair asc), then the
    boundary-fenced replace() — byte-identical to the Spark loop's
    wrapped-string representation (see textops.bpe_train_merges)."""
    sym_cnt = "((length(s) - length(replace(s, chr(31), ''))) // 2)"
    blocks = [r"""
wrd AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents)
  WHERE w <> '' AND w NOT LIKE '%' || chr(31) || '%'
  GROUP BY w
),
wtot AS (SELECT CAST(sum(wc) AS BIGINT) AS t FROM wrd),
w0 AS MATERIALIZED (
  SELECT w, wc,
         regexp_replace(w, '(.)', chr(31) || '\1' || chr(31), 'g') AS s
  FROM wrd
)"""]
    for i in range(1, k + 1):
        blocks.append(f""",
p{i} AS MATERIALIZED (
  SELECT syms[j] AS lft, syms[j + 1] AS rgt,
         CAST(sum(wc) AS BIGINT) AS cnt
  FROM (
    SELECT wc, syms, unnest(generate_series(1, len(syms) - 1)) AS j
    FROM (SELECT wc, string_split(trim(s, chr(31)),
                                  chr(31) || chr(31)) AS syms
          FROM w{i - 1})
  ) GROUP BY lft, rgt
),
m{i} AS MATERIALIZED (SELECT lft, rgt, cnt FROM p{i} ORDER BY cnt DESC, lft, rgt LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT w, wc, replace(s,
    (SELECT chr(31) || lft || chr(31) || chr(31) || rgt || chr(31)
     FROM m{i}),
    (SELECT chr(31) || lft || rgt || chr(31) FROM m{i})) AS s
  FROM w{i - 1}
)""")
    selects = [f"""
SELECT CAST(0 AS BIGINT) AS step, '' AS left_sym, '' AS right_sym,
       CAST(0 AS BIGINT) AS merge_count,
       CAST(sum(wc * {sym_cnt}) AS BIGINT) AS corpus_symbols,
       CAST((CAST(1000000 AS HUGEINT) * sum(wc * {sym_cnt}))
            // (SELECT t FROM wtot) AS BIGINT) AS fertility_ppm
FROM w0"""]
    for i in range(1, k + 1):
        selects.append(f"""
SELECT CAST({i} AS BIGINT) AS step,
       (SELECT lft FROM m{i}) AS left_sym,
       (SELECT rgt FROM m{i}) AS right_sym,
       (SELECT cnt FROM m{i}) AS merge_count,
       CAST(sum(wc * {sym_cnt}) AS BIGINT) AS corpus_symbols,
       CAST((CAST(1000000 AS HUGEINT) * sum(wc * {sym_cnt}))
            // (SELECT t FROM wtot) AS BIGINT) AS fertility_ppm
FROM w{i}""")
    return "WITH" + "".join(blocks) + "\nUNION ALL".join(selects)


_BPE_TRAIN_SQL = _bpe_train_sql(8)


def _bpe_coverage_sql(k: int = 8) -> str:
    """Same unrolled merge chain as _bpe_train_sql, finishing with the
    per-source application audit: per-source word counts joined onto
    the trained (encoded) word-form relation, DECIMAL ppm ratios."""
    train = _bpe_train_sql(k)
    blocks = train.split("\nSELECT CAST(0 AS BIGINT) AS step,")[0]
    return blocks + rf""",
psrc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS wc_s
  FROM (SELECT source, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        FROM documents)
  WHERE w <> '' AND w NOT LIKE '%' || chr(31) || '%'
  GROUP BY source, w
),
enc AS (
  SELECT w,
         (length(s) - length(replace(s, chr(31), ''))) // 2 AS n_sub,
         len(list_filter(string_split(trim(s, chr(31)),
                                      chr(31) || chr(31)),
                         x -> length(x) > 1)) AS n_merged,
         length(w) AS n_chars
  FROM w{k}
),
cov AS (
  SELECT source,
         CAST(sum(wc_s) AS BIGINT) AS words,
         CAST(sum(wc_s * n_chars) AS BIGINT) AS chars,
         CAST(sum(wc_s * n_sub) AS BIGINT) AS subwords,
         CAST(sum(wc_s * n_merged) AS BIGINT) AS merged_subwords
  FROM psrc JOIN enc USING (w)
  GROUP BY source
)
SELECT source, words, chars, subwords, merged_subwords,
       CAST((CAST(1000000 AS HUGEINT) * subwords) // words AS BIGINT)
         AS fertility_ppm,
       CAST((CAST(1000000 AS HUGEINT) * chars) // words AS BIGINT)
         AS baseline_fertility_ppm,
       CAST((CAST(1000000 AS HUGEINT) * merged_subwords) // subwords
            AS BIGINT) AS merged_share_ppm
FROM cov
"""


_BPE_COVERAGE_SQL = _bpe_coverage_sql(8)

def _bpe_vocab_coverage(spark, sf_dir):
    return textops.bpe_vocab_coverage(_t(spark, sf_dir, "documents"), k=8)


# ------------------------------------------------------------------
# Gopher rule battery, detector confusion, Zipf OLS fit,
# SLO burn rate, MinHash estimator calibration
# ------------------------------------------------------------------

def _gopher_rules_audit(spark, sf_dir):
    return textops.gopher_rules_audit(_t(spark, sf_dir, "documents"))


_GOPHER_PANEL_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

_GOPHER_RULES_SQL = rf"""
WITH norm AS (
  SELECT source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
per AS (
  SELECT source,
         len(toks) AS n,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS sum_len,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_hits,
         len(list_distinct(list_intersect(toks, {_GOPHER_PANEL_SQL}))) AS panel_hits,
         CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS tri_n,
         CASE WHEN len(toks) >= 3 THEN
           len(toks) - 2 - len(list_distinct(list_transform(
             generate_series(0, len(toks) - 3),
             i -> array_to_string(toks[i + 1 : i + 3], ' '))))
         ELSE 0 END AS tri_dup
  FROM norm
),
flags AS (
  SELECT source,
         (n >= 50 AND n <= 100000) AS r_word_count,
         (sum_len >= 3 * n AND sum_len <= 10 * n) AS r_mean_word_len,
         (alpha_hits * 10 >= n * 8) AS r_alpha_words,
         (panel_hits >= 2) AS r_stop_panel,
         (tri_dup * 10 <= tri_n * 3) AS r_dup_trigrams
  FROM per
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r_word_count THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_word_count,
       CAST(sum(CASE WHEN r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_mean_word_len,
       CAST(sum(CASE WHEN r_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_alpha_words,
       CAST(sum(CASE WHEN r_stop_panel THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop_panel,
       CAST(sum(CASE WHEN r_dup_trigrams THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_dup_trigrams,
       CAST(sum(CASE WHEN r_word_count AND r_mean_word_len AND r_alpha_words
                      AND r_stop_panel AND r_dup_trigrams THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass_all,
       CAST((1000000 * sum(CASE WHEN r_word_count AND r_mean_word_len
                                 AND r_alpha_words AND r_stop_panel
                                 AND r_dup_trigrams THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS pass_all_ppm
FROM flags GROUP BY source
"""


def _lang_id_confusion(spark, sf_dir):
    return textops.lang_id_confusion(_t(spark, sf_dir, "documents"))


_LANG_CONFUSION_SQL = rf"""
WITH norm AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, lang, 'de' AS cand, len(list_intersect(toks, {{de}})) AS hits FROM norm
  UNION ALL
  SELECT doc_id, lang, 'en', len(list_intersect(toks, {{en}})) FROM norm
  UNION ALL
  SELECT doc_id, lang, 'es', len(list_intersect(toks, {{es}})) FROM norm
  UNION ALL
  SELECT doc_id, lang, 'fr', len(list_intersect(toks, {{fr}})) FROM norm
),
best AS (
  SELECT doc_id, lang, cand, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand DESC) AS rn
  FROM scores
),
cells AS (
  SELECT lang, CASE WHEN hits > 0 THEN cand ELSE 'und' END AS pred_lang,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM best WHERE rn = 1 GROUP BY 1, 2
)
SELECT lang, pred_lang, n_docs,
       CAST((1000000 * n_docs) // sum(n_docs) OVER (PARTITION BY lang)
            AS BIGINT) AS label_share_ppm
FROM cells
""".format(
    de=_lang_list_sql("de"),
    en=_lang_list_sql("en"),
    es=_lang_list_sql("es"),
    fr=_lang_list_sql("fr"),
)


def _zipf_fit_audit(spark, sf_dir):
    return textops.zipf_fit_audit(_t(spark, sf_dir, "documents"))


_ZIPF_FIT_SQL = r"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY tok
  ORDER BY cnt DESC, tok
  LIMIT 1000
),
xy AS (
  SELECT CAST(floor(ln(rnk) * 1000000) AS HUGEINT) AS x,
         CAST(floor(ln(cnt) * 1000000) AS HUGEINT) AS y
  FROM (SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM counts)
),
a AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sx2,
         sum(x * (64000000 - y)) AS sxyf, sum(64000000 - y) AS syf
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL
            ELSE -((n * sxyf - sx * syf) * 1000000 // (n * sx2 - sx * sx))
            END AS BIGINT) AS zipf_slope_micro,
       CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL
            ELSE (sy * 1000000
                  + ((n * sxyf - sx * syf) * 1000000
                     // (n * sx2 - sx * sx)) * sx)
                 // (n * 1000000) END AS BIGINT) AS intercept_micro
FROM a
"""


def _minhash_estimator_audit(spark, sf_dir):
    return dedup.minhash_estimator_audit(_t(spark, sf_dir, "documents"))


# Pairs CTE = _MINHASH_PAIRS_SQL verbatim (production banding, exact
# collapse + star); signatures and distinct shingles re-derived over
# ALL documents so collapsed star members score too.
_MINHASH_ESTIMATOR_SQL = (
    r"""
WITH pairs AS (SELECT * FROM (
"""
    + _MINHASH_PAIRS_SQL.strip()
    + r"""
)),
anorm AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
agrams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3 THEN
             list_transform(generate_series(0, len(toks) - 3),
                            i -> array_to_string(toks[i + 1 : i + 3], ' '))
           ELSE [] END) AS gram
    FROM anorm
  )
),
ahh AS (
  SELECT doc_id,
         ('0x' || substring(md5(gram), 1, 8))::BIGINT AS g1,
         ('0x' || substring(md5(gram), 9, 8))::BIGINT AS g2
  FROM agrams
),
asig AS (
  SELECT doc_id, seed, min((g1 + seed * g2) % 4294967296) AS minhash
  FROM ahh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, seed
),
est AS (
  SELECT p.doc_a, p.doc_b, p.n_shared_bands,
         CASE WHEN max(sa.doc_id) IS NULL OR max(sb.doc_id) IS NULL
              THEN CAST(1000000 AS BIGINT)
              ELSE CAST((1000000 * sum(CASE WHEN sa.minhash = sb.minhash
                                            THEN 1 ELSE 0 END)) // 16
                        AS BIGINT) END AS est_jaccard_ppm
  FROM pairs p
  LEFT JOIN asig sa ON sa.doc_id = p.doc_a
  LEFT JOIN asig sb ON sb.doc_id = p.doc_b AND sb.seed = sa.seed
  GROUP BY 1, 2, 3
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
  FROM agrams GROUP BY doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN agrams ga ON ga.doc_id = p.doc_a
  JOIN agrams gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
  GROUP BY 1, 2
),
exact AS (
  SELECT p.doc_a, p.doc_b,
         CASE WHEN coalesce(za.n_grams, 0) + coalesce(zb.n_grams, 0) = 0
              THEN CAST(1000000 AS BIGINT)
              ELSE CAST((1000000 * coalesce(i.n_inter, 0))
                        // (coalesce(za.n_grams, 0) + coalesce(zb.n_grams, 0)
                            - coalesce(i.n_inter, 0)) AS BIGINT) END
           AS exact_jaccard_ppm
  FROM pairs p
  LEFT JOIN sizes za ON za.doc_id = p.doc_a
  LEFT JOIN sizes zb ON zb.doc_id = p.doc_b
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
)
SELECT e.doc_a, e.doc_b, e.n_shared_bands, e.est_jaccard_ppm,
       x.exact_jaccard_ppm,
       CAST(e.est_jaccard_ppm - x.exact_jaccard_ppm AS BIGINT) AS err_ppm
FROM est e JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
"""
)


def _unigram_lm_train(spark, sf_dir):
    from iceberg_diag_spark.operators.textops import unigram_lm_train

    return unigram_lm_train(_t(spark, sf_dir, "documents"))


def _uni_score_block(name: str, vocab: str) -> str:
    return f"""{name} AS (
  SELECT piece, l, cnt,
         CAST(floor(-ln((CAST(cnt AS DOUBLE) + 1) / (total + v))
                    * 1000000.0) AS BIGINT) AS nll
  FROM {vocab}, (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                        CAST(count(*) AS BIGINT) AS v FROM {vocab}) t
)"""


# the Viterbi-optimal spans at position pos: prefix cost + piece
# cost equals the optimum (bests is 1-based: bests[j+1] = best[j])
_UNI_CAND = (
    "list_filter(sp, {v} -> {v}.i = pos AND "
    "bests[CAST(pos - {v}.l + 1 AS INT)] + {v}.nll = "
    "bests[CAST(pos + 1 AS INT)])"
)


def _uni_seg_block(m: int) -> str:
    """The sp{m}/dp{m}/bt{m} CTE triple segmenting every word form
    under score{m} — shared by the EM unroll and the
    encoder's final segmentation pass."""
    c1 = _UNI_CAND.format(v="x")
    c2 = _UNI_CAND.format(v="y")
    return f"""sp{m} AS (
  SELECT s.w, list(struct_pack(i := s.i, l := s.l, piece := s.piece,
                               nll := v.nll) ORDER BY s.i, s.l) AS sp
  FROM spans s JOIN score{m} v ON v.piece = s.piece
  GROUP BY s.w
),
dp{m}(w, n, i, sp, bests) AS (
  SELECT q.w, CAST(length(q.w) AS BIGINT), CAST(0 AS BIGINT), q.sp,
         [CAST(0 AS BIGINT)]
  FROM sp{m} q
  UNION ALL
  SELECT w, n, i + 1, sp,
         list_append(bests, list_min(list_transform(
           list_filter(sp, x -> x.i = i + 1),
           x -> bests[CAST(i + 2 - x.l AS INT)] + x.nll)))
  FROM dp{m} WHERE i < n
),
bt{m}(w, pos, sp, bests, pieces) AS (
  SELECT w, n, sp, bests, []::VARCHAR[]
  FROM dp{m} WHERE i = n
  UNION ALL
  SELECT w,
         pos - list_max(list_transform({c1}, x -> x.l)),
         sp, bests,
         list_append(pieces,
           list_filter({c1}, x -> x.l =
             list_max(list_transform({c2}, y -> y.l)))[1].piece)
  FROM bt{m} WHERE pos > 0
)"""


def _unigram_sql() -> str:
    """Unigram-LM hard-EM in DuckDB: the Viterbi forward DP and the
    backtrack are recursive CTEs per word form carrying the bests
    list (integer micro-nat costs, so the DP is exact arithmetic in
    both engines); EM iterations are unrolled as repeated CTE blocks
    (the matryoshka per-dim generation pattern)."""
    return (
        _unigram_chain()
        + f"""
SELECT piece, CAST(l AS BIGINT) AS piece_len, cnt AS em_count,
       nll AS nll_micro
FROM score{K_EM}
"""
    )


def _unigram_chain() -> str:
    """The full WITH chain through score{k_em} (no final SELECT) —
    shared by the trainer oracle and the encoder oracle."""
    vals = ", ".join(f"({l})" for l in range(1, 5))

    score_block = _uni_score_block
    em_blocks = []
    for m in range(K_EM):
        em_blocks.append(_uni_seg_block(m) + f""",
em{m} AS (
  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (SELECT b.w AS w, unnest(b.pieces) AS piece
        FROM bt{m} b WHERE b.pos = 0) u
  JOIN words USING (w)
  GROUP BY piece
),
vocab{m + 1} AS (
  SELECT c.piece, CAST(1 AS INT) AS l,
         CAST(coalesce(e.cnt, 0) AS BIGINT) AS cnt
  FROM chars c LEFT JOIN em{m} e USING (piece)
  UNION ALL
  SELECT piece, CAST(length(piece) AS INT) AS l, cnt
  FROM em{m} WHERE length(piece) >= 2 AND cnt > 0
),
{score_block(f"score{m + 1}", f"vocab{m + 1}")}""")
    em_sql = ",\n".join(em_blocks)
    return rf"""
WITH RECURSIVE words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'),
                  ' ')) AS w
    FROM documents
  ) t(w)
  WHERE w <> '' AND length(w) <= {MAX_WORD_LEN}
  GROUP BY w
),
pos AS (
  SELECT w, wc, unnest(generate_series(1, length(w))) AS i FROM words
),
spans AS (
  SELECT w, wc, i, l,
         substr(w, CAST(i - l + 1 AS INT), CAST(l AS INT)) AS piece
  FROM pos, (VALUES {vals}) t(l)
  WHERE l <= i
),
seed AS (
  SELECT piece, CAST(l AS INT) AS l, CAST(sum(wc) AS BIGINT) AS cnt
  FROM spans GROUP BY piece, l
),
chars AS (SELECT piece, l, cnt FROM seed WHERE l = 1),
multis AS (SELECT piece, l, cnt FROM seed WHERE l >= 2
           ORDER BY cnt DESC, piece LIMIT 48),
vocab0 AS (SELECT * FROM chars UNION ALL SELECT * FROM multis),
{score_block("score0", "vocab0")},
{em_sql}"""


_UNIGRAM_SQL = _unigram_sql()


def _classifier_auc_calibration(spark, sf_dir):
    from iceberg_diag_spark.operators.textops import (
        classifier_auc_calibration,
    )

    return classifier_auc_calibration(_t(spark, sf_dir, "documents"))


# AUC over the z_micro histogram (tie-corrected Mann-Whitney; the
# single-node oracle may use a plain cumulative window where the
# Spark side runs the range-sharded prefix) + the fixed p-grid
# calibration bins. The z/feature CTEs mirror
# _QUALITY_CLASSIFIER_SQL; the gate mirrors the funnel's stage-1.
# Shared CTE chain through the per-doc (z_micro, y) relation — the
# classifier score next to the curation-gate label (mirrors
# textops._scored_vs_gate); AUC/calibration and the PR curve append
# their own tails.
_CLASSIFIER_PER_PREFIX = (
    r"""
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
         greatest(
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
    + r"""))) AS lang_hits
  FROM f
),
per AS (
  SELECT CAST(FLOOR((-2.3 + (-0.05) * mtl + 1.2 * ttr + 4.0 * sw
               + 2.5 * alpha
               + (-3.0) * (CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                           / greatest(len(tri), 1))) * 1000000.0)
              AS BIGINT) AS z_micro,
         CAST(ttr >= 0.4 AND alpha >= 0.6 AND lang_hits > 0
              AS BIGINT) AS y
  FROM feats
)"""
)

_CLASSIFIER_AUC_SQL = (
    _CLASSIFIER_PER_PREFIX
    + r""",
perp AS (
  SELECT z_micro, y,
         CAST(FLOOR(1000000.0
                    / (1.0 + exp(-(CAST(z_micro AS DOUBLE) / 1000000.0))))
              AS BIGINT) AS p_micro
  FROM per
),
hist AS (
  SELECT z_micro,
         CAST(sum(y) AS BIGINT) AS n1,
         CAST(count(*) - sum(y) AS BIGINT) AS n0
  FROM perp GROUP BY z_micro
),
pre AS (
  SELECT n1, n0,
         CAST(coalesce(sum(n0) OVER (ORDER BY z_micro
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum0
  FROM hist
),
aucf AS (
  SELECT CASE WHEN sum(n1) = 0 OR sum(n0) = 0 THEN NULL
         ELSE CAST((1000000 * sum(CAST(n1 AS HUGEINT) * (2 * cum0 + n0)))
                   // (2 * CAST(sum(n1) AS HUGEINT) * sum(n0)) AS BIGINT)
         END AS auc_ppm,
         CAST(sum(n1) AS BIGINT) AS n_pos_total,
         CAST(sum(n0) AS BIGINT) AS n_neg_total
  FROM pre
),
bins AS (
  SELECT least(9, p_micro * 10 // 1000000) AS bin_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(y) AS BIGINT) AS n_pos,
         sum(CAST(p_micro AS HUGEINT)) AS sp
  FROM perp GROUP BY 1
)
SELECT CAST(b.bin_id AS BIGINT) AS bin_id, b.n_docs, b.n_pos,
       CAST(b.sp // b.n_docs AS BIGINT) AS mean_pred_ppm,
       CAST(1000000 * CAST(b.n_pos AS HUGEINT) // b.n_docs AS BIGINT)
         AS pos_rate_ppm,
       CAST(b.sp // b.n_docs
            - 1000000 * CAST(b.n_pos AS HUGEINT) // b.n_docs AS BIGINT)
         AS calib_gap_ppm,
       a.auc_ppm, a.n_pos_total, a.n_neg_total
FROM bins b, aucf a
"""
).format(
    de=_lang_list_sql("de"),
    en=_lang_list_sql("en"),
    es=_lang_list_sql("es"),
    fr=_lang_list_sql("fr"),
)


# ------------------------------------------------------------------
# Near-dup source modularity + Holt trend forecast
# ------------------------------------------------------------------

def _neardup_source_modularity(spark, sf_dir):
    from iceberg_diag_spark.operators.graph import source_modularity

    return source_modularity(_t(spark, sf_dir, "documents"))


_SOURCE_MODULARITY_SQL = (
    r"""
WITH pairs AS (SELECT * FROM (
"""
    + _MINHASH_PAIRS_SQL.strip()
    + r"""
)),
lab AS (SELECT doc_id, source AS src FROM documents),
e AS (
  SELECT la.src AS src_a, lb.src AS src_b
  FROM pairs p
  JOIN lab la ON la.doc_id = p.doc_a
  JOIN lab lb ON lb.doc_id = p.doc_b
),
mt AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
intra AS (
  SELECT src_a AS source, CAST(count(*) AS BIGINT) AS intra_edges
  FROM e WHERE src_a = src_b GROUP BY src_a
),
deg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS degree_sum
  FROM (SELECT src_a AS source FROM e
        UNION ALL SELECT src_b FROM e)
  GROUP BY source
)
SELECT d.source, d.degree_sum,
       coalesce(i.intra_edges, 0) AS intra_edges,
       CAST((CAST(1000000 AS HUGEINT)
               * (4 * mt.m * coalesce(i.intra_edges, 0)
                  - CAST(d.degree_sum AS HUGEINT) * d.degree_sum)
             + CAST(1000000 AS HUGEINT) * (4 * mt.m * mt.m))
            // (4 * mt.m * mt.m) - 1000000 AS BIGINT) AS q_contrib_micro
FROM deg d LEFT JOIN intra i USING (source) CROSS JOIN mt
"""
)


# ------------------------------------------------------------------
# C4 rule battery
# ------------------------------------------------------------------


def _c4_rules_audit(spark, sf_dir):
    from iceberg_diag_spark.operators.textops import c4_rules_audit

    return c4_rules_audit(_t(spark, sf_dir, "documents"))


_C4_RULES_SQL = r"""
WITH f AS (
  SELECT source, text,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
per AS (
  SELECT source,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
            x -> regexp_matches(x, '[.!?"]$')
                 AND len(string_split_regex(trim(x), '\s+')) >= 5))
           AS BIGINT) AS n_kept,
         (length(text) - length(replace(text, '.', ''))
          + length(text) - length(replace(text, '!', ''))
          + length(text) - length(replace(text, '?', ''))) >= 3
           AS r_min_sentences,
         2 * len(list_filter(lines, x -> regexp_matches(x, '[.!?"]$')))
           >= len(lines) AS r_line_punct,
         len(list_filter(lines,
            x -> len(string_split_regex(trim(x), '\s+')) >= 5))
           = len(lines) AS r_line_words,
         NOT contains(lower(text), 'lorem ipsum') AS r_no_lorem,
         NOT contains(text, '{') AS r_no_brace,
         len(list_intersect(toks, ['porn','xxx','viagra','casino'])) = 0
           AS r_no_badwords
  FROM f
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(r_min_sentences AS BIGINT)) AS BIGINT)
         AS n_pass_min_sentences,
       CAST(sum(CAST(r_line_punct AS BIGINT)) AS BIGINT)
         AS n_pass_line_punct,
       CAST(sum(CAST(r_line_words AS BIGINT)) AS BIGINT)
         AS n_pass_line_words,
       CAST(sum(CAST(r_no_lorem AS BIGINT)) AS BIGINT) AS n_pass_no_lorem,
       CAST(sum(CAST(r_no_brace AS BIGINT)) AS BIGINT) AS n_pass_no_brace,
       CAST(sum(CAST(r_no_badwords AS BIGINT)) AS BIGINT)
         AS n_pass_no_badwords,
       CAST(sum(CAST(r_min_sentences AND r_line_punct AND r_line_words
                     AND r_no_lorem AND r_no_brace AND r_no_badwords
                     AS BIGINT)) AS BIGINT) AS n_pass_all,
       CAST(1000000 * sum(CAST(r_min_sentences AND r_line_punct
                     AND r_line_words AND r_no_lorem AND r_no_brace
                     AND r_no_badwords AS BIGINT)) // count(*) AS BIGINT)
         AS pass_all_ppm,
       CAST(sum(n_lines) AS BIGINT) AS lines_total,
       CAST(sum(n_kept) AS BIGINT) AS lines_kept,
       CAST(1000000 * sum(n_kept) // sum(n_lines) AS BIGINT)
         AS line_keep_ppm
FROM per GROUP BY source
"""


# ------------------------------------------------------------------
# PR curve + best-F1 operating point
# ------------------------------------------------------------------


def _classifier_pr_curve(spark, sf_dir):
    from iceberg_diag_spark.operators.textops import classifier_pr_curve

    return classifier_pr_curve(_t(spark, sf_dir, "documents"))


_CLASSIFIER_PR_SQL = (
    _CLASSIFIER_PER_PREFIX
    + r""",
hist AS (
  SELECT z_micro,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n1
  FROM per GROUP BY z_micro
),
cum AS (
  SELECT z_micro, n, n1,
         CAST(sum(n1) OVER (ORDER BY z_micro DESC) AS BIGINT) AS tp,
         CAST(sum(n) OVER (ORDER BY z_micro DESC) - sum(n1)
              OVER (ORDER BY z_micro DESC) AS BIGINT) AS fp,
         (SELECT CAST(sum(n1) AS BIGINT) FROM hist) AS p_total
  FROM hist
),
rows_ AS (
  SELECT z_micro, p_total, tp, fp,
         CAST(p_total - tp AS BIGINT) AS fn,
         CAST(1000000 * tp // (tp + fp) AS BIGINT) AS prec_ppm,
         CAST(2000000 * tp // (2 * tp + fp + (p_total - tp)) AS BIGINT)
           AS f1_ppm
  FROM cum WHERE p_total > 0
),
best AS (
  SELECT f1_ppm AS best_f1_ppm, z_micro AS best_threshold_z,
         tp AS best_tp, fp AS best_fp, fn AS best_fn
  FROM rows_ ORDER BY f1_ppm DESC, z_micro DESC LIMIT 1
)
SELECT CAST(g.r_idx * 100000 AS BIGINT) AS recall_grid_ppm,
       CAST(max(r.prec_ppm) AS BIGINT) AS interp_precision_ppm,
       b.best_f1_ppm, b.best_threshold_z, b.best_tp, b.best_fp,
       b.best_fn
FROM generate_series(0, 10) g(r_idx)
JOIN rows_ r ON r.tp * 10 >= g.r_idx * r.p_total
CROSS JOIN best b
GROUP BY g.r_idx, b.best_f1_ppm, b.best_threshold_z, b.best_tp,
         b.best_fp, b.best_fn
"""
).format(
    de=_lang_list_sql("de"),
    en=_lang_list_sql("en"),
    es=_lang_list_sql("es"),
    fr=_lang_list_sql("fr"),
)


def _classifier_train_lr(spark, sf_dir):
    return textops.classifier_train_lr(_t(spark, sf_dir, "documents"))


def _sdiv(num: str, den: str) -> str:
    """Truncating division in DuckDB matching Spark's DIV: // floors,
    so negate-divide-negate for negative numerators."""
    return (
        f"(CASE WHEN {num} < 0 THEN -((-({num})) // ({den}))"
        f" ELSE ({num}) // ({den}) END)"
    )


def _train_lr_sql(carry: bool = False, final: str | None = None) -> str:
    """Generate the k-step unrolled GD chain: feats → integer moments
    → standardized features → w0..wk CTEs (gradient aggregate + weight
    update per step) → trajectory union. Mirrors
    textops.classifier_train_lr stage for stage.

    `carry=True` rides (source, kh) — the source label and the
    HAND-SET classifier's keep decision (the proven-green
    quality_classifier_score z expression, _QUALITY_CLASSIFIER_SQL) — through
    the f/feats/raw/feat CTEs, and `final` replaces the trajectory
    union with a custom SELECT over (feat, w{k}):
    classifier_apply_trained chains the trained step-k weights into
    a per-source scoring aggregate. Defaults emit the byte-identical
    classifier_train_lr oracle (mirroring textops._lr_feature_rows /
    _lr_standardized's carry parameter)."""
    xs = [f"x{j}" for j in range(1, 6)]
    fcols = ["x0"] + [f"sx{j}" for j in range(1, 6)]
    wcols = [f"w{j}" for j in range(6)]

    c_f = ", source" if carry else ""
    c_feats = ",\n         source" if carry else ""
    # the hand-set keep rule, expression-identical to the
    # quality_classifier_score oracle (same left-to-right IEEE sum)
    c_raw = (
        ",\n         source,\n"
        "         (-2.3 + (-0.05) * mtl + 1.2 * ttr + 4.0 * sw"
        " + 2.5 * alpha\n"
        "          + (-3.0) * (CAST(len(tri) - len(list_distinct(tri))"
        " AS DOUBLE)\n"
        "                      / greatest(len(tri), 1))) >= 0 AS kh"
        if carry
        else ""
    )

    feats = r"""
WITH f AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks,
         text{c_f}
  FROM documents
),
feats AS (
  SELECT CAST(length(text) AS DOUBLE) / greatest(len(toks), 1) AS mtl,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr,
         CAST(len(list_intersect(toks, {en})) AS DOUBLE)
           / greatest(len(toks), 1) AS sw,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> array_to_string(toks[i : i + 2], ' '))
         ELSE [] END AS tri,
         greatest(
           len(list_intersect(toks, {de})),
           len(list_intersect(toks, {en})),
           len(list_intersect(toks, {es})),
           len(list_intersect(toks, {fr}))) AS lang_hits{c_feats}
  FROM f
),
raw AS MATERIALIZED (
  SELECT CAST(FLOOR(mtl * 1000000) AS BIGINT) AS x1,
         CAST(FLOOR(ttr * 1000000) AS BIGINT) AS x2,
         CAST(FLOOR(sw * 1000000) AS BIGINT) AS x3,
         CAST(FLOOR(alpha * 1000000) AS BIGINT) AS x4,
         CAST(FLOOR((CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                     / greatest(len(tri), 1)) * 1000000) AS BIGINT) AS x5,
         CAST(ttr >= 0.4 AND alpha >= 0.6 AND lang_hits > 0 AS BIGINT) AS y{c_raw}
  FROM feats
)""".format(
        de=_lang_list_sql("de"),
        en=_lang_list_sql("en"),
        es=_lang_list_sql("es"),
        fr=_lang_list_sql("fr"),
        c_f=c_f,
        c_feats=c_feats,
        c_raw=c_raw,
    )

    mus = ",\n         ".join(
        f"CAST(sum(CAST({x} AS HUGEINT)) // count(*) AS HUGEINT) AS mu_{x}"
        for x in xs
    )
    sigs = ",\n         ".join(
        f"greatest(CAST(1 AS HUGEINT), CAST(FLOOR(SQRT(CAST("
        f"(count(*) * sum(CAST({x} AS HUGEINT) * {x})"
        f" - sum(CAST({x} AS HUGEINT)) * sum(CAST({x} AS HUGEINT)))"
        f" // (CAST(count(*) AS HUGEINT) * count(*)) AS DOUBLE)))"
        f" AS HUGEINT)) AS sig_{x}"
        for x in xs
    )
    stats = f""",
stats AS (
  SELECT {mus},
         {sigs}
  FROM raw
)"""

    sxs = ",\n         ".join(
        _sdiv(f"(CAST({x} AS HUGEINT) - mu_{x}) * 1000000", f"sig_{x}")
        + f" AS sx{j}"
        for j, x in enumerate(xs, start=1)
    )
    c_feat = ", source, kh" if carry else ""
    feat = f""",
feat AS MATERIALIZED (
  SELECT CAST(1000000 AS HUGEINT) AS x0,
         {sxs},
         y{c_feat}
  FROM raw, stats
)"""

    w0 = """,
w0 AS MATERIALIZED (
  SELECT """ + ", ".join(
        f"CAST(0 AS HUGEINT) AS w{j}" for j in range(6)
    ) + """
)"""

    steps = []
    zsum = " + ".join(f"{w_} * {x_}" for w_, x_ in zip(wcols, fcols))
    p_expr = (
        f"CAST(FLOOR(1000000.0 / (1.0 + EXP(-(CAST("
        f"{_sdiv(f'({zsum})', '1000000')}"
        f" AS DOUBLE) / 1000000.0)))) AS HUGEINT)"
    )
    for t in range(1, K_STEPS + 1):
        gsums = ",\n         ".join(
            f"sum((p - 1000000 * y) * {x}) AS g{j}"
            for j, x in enumerate(fcols)
        )
        updates = ",\n         ".join(
            f"CAST(w{j} - "
            + _sdiv(
                f"g{j} * 2000000", "CAST(n AS HUGEINT) * 1000000000000"
            )
            + f" AS HUGEINT) AS w{j}"
            for j in range(6)
        )
        steps.append(f""",
g{t} AS (
  SELECT count(*) AS n,
         {gsums}
  FROM (SELECT {p_expr} AS p, y, {', '.join(fcols)} FROM feat, w{t-1})
),
w{t} AS MATERIALIZED (
  SELECT {updates}
  FROM w{t-1}, g{t}
)""")

    names = list(textops.LR_WEIGHT_COLS)
    selects = []
    for t in range(K_STEPS + 1):
        cols = ", ".join(
            f"CAST(w{j} AS BIGINT) AS {name}"
            for j, name in enumerate(names)
        )
        selects.append(
            f"SELECT CAST({t} AS BIGINT) AS step, {cols} FROM w{t}"
        )
    union = "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY step"
    if final is not None:
        union = "\n" + final
    return feats + stats + feat + w0 + "".join(steps) + union


_TRAIN_LR_SQL = _train_lr_sql()


def _unigram_lm_encode(spark, sf_dir):
    return textops.unigram_lm_encode(_t(spark, sf_dir, "documents"))


def _unigram_encode_sql() -> str:
    """Trainer chain through score{k_em}, one more shared seg block
    (the encoder's segmentation under the FINAL scores), then the
    per-source occurrence join + fertility aggregate. Word filter
    identical to training on both sides (stated domain contract)."""
    return (
        _unigram_chain()
        + ",\n"
        + _uni_seg_block(K_EM)
        + rf""",
src_w AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT source,
           unnest(string_split(regexp_replace(lower(trim(text)),
                                              '\s+', ' ', 'g'),
                  ' ')) AS w
    FROM documents
  ) t(source, w)
  WHERE w <> '' AND length(w) <= {MAX_WORD_LEN}
  GROUP BY source, w
),
wp AS (
  SELECT w, CAST(len(pieces) AS BIGINT) AS np
  FROM bt{K_EM} WHERE pos = 0
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_words,
       CAST(sum(c * np) AS BIGINT) AS n_pieces,
       CAST(sum(c * length(w)) AS BIGINT) AS n_chars,
       CAST(1000000 * sum(c * np) // sum(c) AS BIGINT) AS fertility_ppm,
       CAST(1000000 * sum(c * length(w)) // sum(c * np) AS BIGINT)
         AS chars_per_piece_ppm
FROM src_w JOIN wp USING (w)
GROUP BY source
"""
    )


_UNIGRAM_ENCODE_SQL = _unigram_encode_sql()


# Trained-classifier deployment (textops.classifier_apply_trained),
# closing the score/evaluate/train/apply loop: the apply oracle chains
# the k-CTE training trajectory (_train_lr_sql with carry=True) into a
# per-source scoring aggregate.

# ------------------------------------------------------------------
# classifier_apply_trained
# ------------------------------------------------------------------


def _classifier_apply_trained(spark, sf_dir):
    return textops.classifier_apply_trained(_t(spark, sf_dir, "documents"))


def _apply_trained_sql() -> str:
    """Training trajectory chain (carry=True rides source + the
    hand-set keep) ended with the deployment aggregate: score every
    doc with the step-k weights (integer sign test, no sigmoid) and
    fold the per-source keep/flip/agreement counts."""
    wcols = [f"w{j}" for j in range(6)]
    fcols = ["x0"] + [f"sx{j}" for j in range(1, 6)]
    zsum = " + ".join(f"{w_} * {x_}" for w_, x_ in zip(wcols, fcols))
    final = f"""SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kt THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_trained,
       CAST(sum(CASE WHEN kh THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_handset,
       CAST(sum(CASE WHEN kt AND NOT kh THEN 1 ELSE 0 END) AS BIGINT) AS n_flip_to_keep,
       CAST(sum(CASE WHEN kh AND NOT kt THEN 1 ELSE 0 END) AS BIGINT) AS n_flip_to_drop,
       CAST(sum(CASE WHEN kt = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_trained,
       CAST(sum(CASE WHEN kh = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_handset
FROM (
  SELECT source, kh, y, ({zsum}) >= 0 AS kt FROM feat, w{K_STEPS}
)
GROUP BY source
ORDER BY source"""
    return _train_lr_sql(carry=True, final=final)


_APPLY_TRAINED_SQL = _apply_trained_sql()


REGISTRY.update({
    "dedup_exact_groups": QuerySpec(
        _dedup_exact_groups, _DEDUP_EXACT_SQL, "exact dedup via sha256 groups"
    ),
    "text_stats": QuerySpec(_text_stats, _TEXT_STATS_SQL, "token/char stats"),
    "lang_stats": QuerySpec(_lang_stats, _LANG_STATS_SQL, "per-language rollup"),
    "doc_fingerprint": QuerySpec(
        _doc_fingerprint, _DOC_FINGERPRINT_SQL, "winnowing-min fingerprint"
    ),
    "tfidf_top_terms": QuerySpec(
        _tfidf_top_terms, _TFIDF_SQL,
        "top-5 TF-IDF keywords per doc (integer-keyed ranking — "
        "ln() ulp differences cannot reorder across engines)",
    ),
    "minhash_pairs": QuerySpec(
        _minhash_pairs, _MINHASH_PAIRS_SQL, "MinHash-LSH near-dup candidates"
    ),
    "simhash": QuerySpec(
        _simhash, _SIMHASH_SQL,
        "64-bit SimHash fingerprints (md5-halves hash family — "
        "bit-identical in DuckDB)",
    ),
    "simhash_near_dup": QuerySpec(
        _simhash_near_dup, _SIMHASH_NEAR_DUP_SQL,
        "SimHash Hamming-banded near-dup pairs (pigeonhole multi-index, "
        "no false negatives within budget; oracle = all-pairs form)",
    ),
    "exact_dedup_corpus": QuerySpec(
        _exact_dedup_corpus, _EXACT_DEDUP_CORPUS_SQL,
        "deduplicated corpus (min doc_id per content hash survives)",
    ),
    "ngram_jaccard": QuerySpec(
        _ngram_jaccard, _NGRAM_JACCARD_SQL,
        "exact 3-gram Jaccard verification of MinHash-LSH candidates",
    ),
    "quality_scores": QuerySpec(
        _quality_scores, _QUALITY_SCORES_SQL,
        "heuristic quality signals (token len / TTR / stopword / alpha ratios)",
    ),
    "language_id": QuerySpec(
        _language_id, _LANGUAGE_ID_SQL,
        "stopword-voting language ID (argmax via greatest-of-structs)",
    ),
    "near_dup_clusters": QuerySpec(
        _near_dup_clusters, _NEAR_DUP_CLUSTERS_SQL,
        "connected components over the MinHash-LSH pair graph "
        "(iterative min-label propagation, lineage-checkpointed; "
        "oracle via DuckDB recursive CTE)",
    ),
    "near_dup_pagerank": QuerySpec(
        _near_dup_pagerank, _PAGERANK_SQL,
        "PageRank over the near-dup graph (10 synchronous rounds, "
        "lineage-checkpointed; oracle = ten unrolled SQL rounds)",
    ),
    "corpus_curation": QuerySpec(
        _corpus_curation, _CORPUS_CURATION_SQL,
        "end-to-end curation pipeline: exact dedup → quality gate → "
        "language gate → per-language corpus stats",
    ),
    "curated_embedding_near_dup": QuerySpec(
        _curated_near_dup, _CURATED_NEAR_DUP_SQL,
        "composition: exact-dedup + quality curation gating the "
        "embedding near-dup (dedup first shrinks the quadratic input)",
    ),
    "doc_line_dedup": QuerySpec(
        _doc_line_dedup, _DOC_LINE_DEDUP_SQL,
        "within-document repeated-sentence removal (keep first "
        "occurrence), rebuilt text md5-pinned — per-doc state only, "
        "scales with the scan",
    ),
    "doc_unigram_logprob": QuerySpec(
        _doc_unigram_logprob, _DOC_UNIGRAM_SQL,
        "unigram-LM negative log-likelihood per doc (cheap perplexity "
        "proxy for quality filtering), micro-nat integer sums immune "
        "to float summation order",
    ),
    "ngram_containment": QuerySpec(
        _ngram_containment, _NGRAM_CONTAINMENT_SQL,
        "asymmetric n-gram containment over LSH candidate pairs (the "
        "sub-document/quote-inclusion signal Jaccard misses) — all-"
        "integer output, no float surface",
    ),
    "doc_bigram_logprob": QuerySpec(
        _bigram_logprob, _BIGRAM_LOGPROB_SQL,
        "bigram-LM conditional NLL per doc (catches word-salad with "
        "plausible unigram stats); micro-nat integer sums",
    ),
    "corpus_snapshot_diff": QuerySpec(
        _snapshot_diff, _SNAPSHOT_DIFF_SQL,
        "release-to-release content diff by exact hash: added/removed/"
        "retained per source, hash-only shuffle volume",
    ),
    "quality_classifier_score": QuerySpec(
        _quality_classifier, _QUALITY_CLASSIFIER_SQL,
        "fasttext-style linear keep/drop classifier over the "
        "heuristic feature vector — fixed-order arithmetic, exact "
        "decision boundary, zero shuffle",
    ),
    "tokenizer_fertility": QuerySpec(
        _tokenizer_fertility, _TOKENIZER_FERTILITY_SQL,
        "tokenizer-fit audit per source: subwords-per-word fertility "
        "and chars-per-subword in floor-ppm integers",
    ),
    "langid_margin": QuerySpec(
        _langid_margin, _LANGID_MARGIN_SQL,
        "language-ID confidence margin (winner vs runner-up hit "
        "counts) — the undecidable slice router",
    ),
    "contamination_report": QuerySpec(
        _contamination_report, _CONTAMINATION_REPORT_SQL,
        "per-(benchmark, source) contamination matrix via one "
        "broadcast union of tagged eval gram sets",
    ),
    "vocab_oov_rate": QuerySpec(
        _vocab_oov_rate, _VOCAB_OOV_SQL,
        "per-source out-of-vocabulary rate against the corpus top-1024 "
        "token vocabulary (distributed top-k + one broadcast join)",
    ),
    "doc_readability": QuerySpec(
        _doc_readability, _READABILITY_SQL,
        "per-doc Flesch-style readability from exact sentence/word/"
        "syllable counts (zero-shuffle codegen projection)",
    ),
    "doc_char_novelty": QuerySpec(
        _doc_char_novelty, _CHAR_NOVELTY_SQL,
        "per-doc char-4-gram novelty ratio — the row-local "
        "compressibility/repetition quality proxy",
    ),
    "dedup_survivorship": QuerySpec(
        _dedup_survivorship, _DEDUP_SURVIVORSHIP_SQL,
        "per-source exact-dedup survivor and reclaimed-bytes "
        "accounting (hash-only shuffle, text never moves)",
    ),
    "jaccard_threshold_hist": QuerySpec(
        _jaccard_threshold_hist, _JACCARD_HIST_SQL,
        "near-dup threshold calibration: candidate-pair exact-Jaccard "
        "micro-decile histogram over the production LSH chain",
    ),
    "near_dup_kcore": QuerySpec(
        _near_dup_kcore, _KCORE_SQL,
        "2-core of the near-dup graph (fixed-round simultaneous "
        "peel, unrolled-SQL oracle): separates one-template star "
        "clusters (empty core) from mutually-interlinked content "
        "farms — the density companion of triangles/PageRank",
    ),
    "doc_template_clusters": QuerySpec(
        _doc_template_clusters, _TEMPLATE_CLUSTERS_SQL,
        "template-page detector: clusters of docs sharing the first-"
        "8-token normalized prefix hash (zero-shuffle projection + "
        "one hash-aggregate — the cheap prefix-blocked complement "
        "of near-dup detection)",
    ),
    "source_vocab_tv": QuerySpec(
        _source_vocab_tv, _SOURCE_TV_SQL,
        "pairwise total-variation distance between per-source unigram "
        "distributions over the top-1024 vocabulary + residual bucket "
        "— exact common-denominator BIGINT arithmetic, no logarithm "
        "(the domain-shift audit behind mixture weighting)",
    ),
    "winnow_clone_pairs": QuerySpec(
        _winnow_clone_pairs, _WINNOW_CLONE_SQL,
        "MOSS-style clone pairs: docs sharing >= 2 winnowing "
        "fingerprints (exact shared-span evidence, boilerplate-"
        "capped posting lists, never all-pairs)",
    ),
    "dsir_logratio": QuerySpec(
        _dsir_logratio, _DSIR_SQL,
        "DSIR importance log-ratio per doc (target-vs-rest Laplace "
        "unigram LMs, per-term micro-nat quantization before exact "
        "integer per-doc sums)",
    ),
    "vocab_growth_curve": QuerySpec(
        _vocab_growth_curve, _VOCAB_GROWTH_SQL,
        "Heaps-law vocabulary growth across sequential curriculum "
        "shards: per-shard token volume, first-seen types, cumulative "
        "vocabulary (saturation/noise audit)",
    ),
    "bm25_topk": QuerySpec(
        _bm25_topk, _BM25_SQL,
        "BM25 retrieval top-k (Lucene idf variant, k1=1.2 b=0.75) — "
        "the keyword first-stage retriever; per-(term,doc) partials "
        "floor-quantized to micro before exact integer per-doc sums",
    ),
    "hybrid_retrieval_topk": QuerySpec(
        _hybrid_retrieval, _HYBRID_RETRIEVAL_SQL,
        "retrieve-then-rerank: BM25 candidates → pseudo-relevance "
        "feedback centroid (integer sum of top-m quantized "
        "embeddings) → exact integer cosine rerank → fused top-k; "
        "candidate ids broadcast-semi-prune the embeddings scan",
    ),
    "bpe_merge_candidates": QuerySpec(
        _bpe_merge_candidates, _BPE_MERGE_SQL,
        "first-iteration BPE merge counts over distinct word forms "
        "weighted by corpus frequency (the tokenizer-training "
        "optimization: pair explode touches the vocabulary, never "
        "the token stream); exact integers, TakeOrderedAndProject",
    ),
    "source_quality_calibration": QuerySpec(
        _source_quality_calibration, _SOURCE_QUALITY_CAL_SQL,
        "per-source percentile calibration of the ttr quality proxy "
        "via the grouped range-shard rank idiom — no whole-source "
        "single-task window; pct_ppm exact from rank arithmetic",
    ),
    "quality_length_skyline": QuerySpec(
        _quality_length_skyline, _SKYLINE_SQL,
        "Pareto frontier (skyline) of (ttr quality, length): docs "
        "dominated by no other; distributed via the per-ttr max "
        "histogram + one bounded running-max window — no corpus "
        "sort",
    ),
    "pmi_collocations": QuerySpec(
        _pmi_collocations, _PMI_SQL,
        "top collocations by PMI over the corpus bigram stream "
        "(Church-Hanks; overflow-free log-sum form, micro-nat "
        "floor quantization, min-count hapax pruning)",
    ),
    "pii_density_by_source": QuerySpec(
        _pii_density, _PII_DENSITY_SQL,
        "per-source PII exposure rollup (release gate): docs hit, "
        "per-pattern totals, density per million chars — same "
        "pattern set as pii_redaction, one scan + one source-key "
        "aggregate",
    ),
    "ngram_dup_curve": QuerySpec(
        _ngram_dup_curve, _NGRAM_DUP_CURVE_SQL,
        "duplication-rate curve across n-gram sizes 1-6 (dedup-"
        "policy knee finder): one corpus pass emits all sizes via a "
        "shared lead chain, grams shuffle as fixed-width md5 "
        "digests, DECIMAL-exact ppm",
    ),
    "clone_pairs_verified": QuerySpec(
        _clone_pairs_verified, _CLONE_VERIFIED_SQL,
        "two-tier near-dup: winnow clone candidates verified by "
        "exact Levenshtein ratio (<= 20% of the longer text) - "
        "quadratic verifier runs only on the stop-listed candidate "
        "set, texts re-join by id after the id-only pair stage",
    ),
    "quality_dup_matrix": QuerySpec(
        _quality_dup_matrix, _QUALITY_DUP_MATRIX_SQL,
        "quality × duplication joint profile: exact-dup rate per "
        "type-token-ratio decile (joint curation-threshold "
        "evidence); hash-only dup pass + broadcast percentile "
        "edges, text never shuffles",
    ),
    "doc_repetition_profile": QuerySpec(
        _doc_repetition_profile, _REPETITION_SQL,
        "Gopher-style within-doc repetition filter stats (top "
        "2/3-gram char fraction, repeated-5-gram char mass, "
        "repetitive flag at the published thresholds); ZERO shuffle "
        "-- per-row sorted-array fold, scan-project plan",
    ),
    "token_zipf_curve": QuerySpec(
        _token_zipf_curve, _ZIPF_SQL,
        "Zipf head: top-50 corpus tokens with exact counts, ppm "
        "share, cumulative share (vocabulary-concentration audit); "
        "partial-combine token aggregate + TakeOrderedAndProject, "
        "rank window over the 50 survivors only",
    ),
    "dedup_method_agreement": QuerySpec(
        _dedup_method_agreement, _DEDUP_AGREEMENT_SQL,
        "Venn audit of MinHash-LSH vs SimHash near-dup pair sets "
        "(where the two fuzzy families disagree); both production "
        "bucketed plans, one full outer join on the pair key, one "
        "global aggregate",
    ),
    "text_artifact_audit": QuerySpec(
        _text_artifact_audit, _ARTIFACT_AUDIT_SQL,
        "per-source extraction-artifact scorecard (HTML entities, "
        "leftover tags, raw URLs, control chars, digit noise) as "
        "exact per-mchar densities; row-local regexp_count folds + "
        "one source-key aggregate",
    ),
    "doc_substring_dedup": QuerySpec(
        _doc_substring_dedup, _SUBSTRING_DEDUP_SQL,
        "Lee et al. exact-substring dedup: remove every token covered "
        "by a 15-token span appearing verbatim in >=2 docs, md5-pin "
        "the rebuilt text; shingle fingerprints + bounded-frame "
        "coverage window instead of a suffix array",
    ),
    "source_length_ks": QuerySpec(
        _source_length_ks, _SOURCE_LENGTH_KS_SQL,
        "per-source two-sample Kolmogorov-Smirnov drift test on "
        "document length vs the rest of the corpus: exact integer "
        "sup-distance numerator on the global value grid, "
        "cross-multiplied 95% rejection in DECIMAL(38,0); one corpus "
        "shuffle, then metadata-scale grid windows",
    ),
    "lsh_param_advisor": QuerySpec(
        _lsh_param_advisor, _LSH_PARAM_SQL,
        "MinHash banding design advisor: every b*r=16 split scored "
        "by the analytic S-curve 1-(1-s^r)^b against the corpus's "
        "observed pair-similarity histogram (floored ppm-power "
        "folds, integer-exact), plus catch probability at fixed "
        "similarity levels; everything post-histogram is "
        "buckets*configs metadata scale",
    ),
    "quality_psi_drift": QuerySpec(
        _quality_psi_drift, _QUALITY_PSI_SQL,
        "Population Stability Index of the quality-classifier score "
        "between releases: fixed-grid buckets (shift-then-divide so "
        "truncation = floor on both engines), Laplace-smoothed "
        "shares, one ln-floor per bucket; drift gate before reusing "
        "a tuned threshold",
    ),
    "bigram_kneser_ney": QuerySpec(
        _bigram_kneser_ney, _BIGRAM_KN_SQL,
        "interpolated Kneser-Ney bigram table (d=3/4, continuation "
        "distribution): two hash aggregates on uniform keys + "
        "broadcast 1-row bigram total, top-k via "
        "TakeOrderedAndProject; two ppm floors, DECIMAL-exact "
        "vocabulary-squared numerator",
    ),
    "doc_kn_nll": QuerySpec(
        _doc_kn_nll, _DOC_KN_NLL_SQL,
        "CCNet scoring step: per-doc NLL against the corpus's own "
        "Kneser-Ney bigram table pruned at 2 occurrences, unseen "
        "bigrams backing off to the discounted continuation unigram; "
        "per-distinct-gram scores joined back to the occurrence "
        "relation on the uniform gram key (bigram_logprob shape), "
        "micro-nat floors + exact integer per-doc sums",
    ),
    "doc_kn_perplexity": QuerySpec(
        _doc_kn_perplexity, _DOC_KN_PERPLEXITY_SQL,
        "CCNet keep/drop decision table: doc_kn_nll ranked within "
        "source via the grouped global_rank idiom (range shards + "
        "broadcast offsets, no one-task-per-source window) and cut "
        "into 10 exact-NTILE bands from (rank, n_s) arithmetic; "
        "emits per-(source, band) population and NLL bounds",
    ),
    "lsh_near_dup_tuned": QuerySpec(
        _lsh_near_dup_tuned, _LSH_TUNED_SQL,
        "advisor-executing LSH banding: the S-curve pick (cheapest "
        "b*r=16 split meeting a 0.95 catch floor at s=0.7, else max "
        "recall) stays a broadcast 1-row relation and parameterizes "
        "the production exact-collapsed banding in the same plan; "
        "all-config band keys from ONE wide-signature pass, bucket "
        "shuffle carries only the picked config's keys",
    ),
    "bpe_vocab_coverage": QuerySpec(
        _bpe_vocab_coverage, _BPE_COVERAGE_SQL,
        "deployment half of the BPE trainer: the trained word-form "
        "relation IS the encoded corpus, so application is free — "
        "one (source, word) count aggregate joins onto it at "
        "vocabulary scale, emitting per-source fertility vs the "
        "all-characters baseline and the merged-symbol coverage "
        "share (which domains the pooled merges actually serve)",
    ),
    "bpe_train_merges": QuerySpec(
        _bpe_train_merges, _BPE_TRAIN_SQL,
        "iterated BPE tokenizer training, 8 merges deep: the token "
        "stream is aggregated ONCE to distinct word forms "
        "(Heaps-sublinear), then every merge is one pair-count "
        "aggregate + map-side top-1 + a boundary-fenced string "
        "replace on the word relation; emits the merge table with "
        "corpus-symbol and fertility trajectories (step 0 = "
        "all-characters baseline)",
    ),
    "gopher_rules_audit": QuerySpec(
        _gopher_rules_audit, _GOPHER_RULES_SQL,
        "Gopher (Rae et al. 2021) quality-rule battery as a "
        "per-source pass-rate audit: five published heuristics as "
        "integer cross-multiplies riding ONE corpus scan + one "
        "map-side aggregate to the sources relation",
    ),
    "lang_id_confusion": QuerySpec(
        _lang_id_confusion, _LANG_CONFUSION_SQL,
        "confusion matrix of the stopword-voting detector vs the "
        "labeled lang column: zero-shuffle voting projection, one "
        "aggregate to the bounded label*prediction matrix, "
        "label-share window on that matrix only",
    ),
    "zipf_fit_audit": QuerySpec(
        _zipf_fit_audit, _ZIPF_FIT_SQL,
        "OLS fit of ln(freq) on ln(rank) over the top-1000 "
        "vocabulary: token hash-agg + TakeOrderedAndProject top-k, "
        "k-row bounded rank window, one DECIMAL-exact regression "
        "aggregate (flipped ordinate keeps every floor-division "
        "non-negative where Spark DIV and DuckDB // agree)",
    ),
    "unigram_lm_train": QuerySpec(
        _unigram_lm_train, _UNIGRAM_SQL,
        "unigram-LM tokenizer training (SentencePiece/Kudo hard-EM "
        "counterpart of bpe_train_merges): substring-seeded piece "
        "vocabulary, k_em rounds of Viterbi segmentation (row-local "
        "integer array-fold DP over the distinct word-form relation, "
        "longest-piece tie-break) + micro-nat Laplace score "
        "re-estimation, zero-count multi-piece prune; token stream "
        "touched once, scores broadcast, zero driver round-trips",
    ),
    "classifier_auc_calibration": QuerySpec(
        _classifier_auc_calibration, _CLASSIFIER_AUC_SQL,
        "exact classifier evaluation against the production curation "
        "gate: tie-corrected Mann-Whitney ROC-AUC over the score "
        "HISTOGRAM (range-sharded prefix sum, no per-doc global "
        "sort; DECIMAL(38,0) moments) + fixed p-grid calibration "
        "bins of sigmoid-predicted vs empirical keep rate with "
        "integer-exact gaps; one corpus scan, checkpointed 3-column "
        "per-doc lineage, 1-row AUC broadcast onto the bin rows",
    ),
    "minhash_estimator_audit": QuerySpec(
        _minhash_estimator_audit, _MINHASH_ESTIMATOR_SQL,
        "MinHash estimator calibration on the production candidate "
        "pairs: sketched Jaccard (matching signature coordinates/16) "
        "vs exact distinct-shingle Jaccard with signed error; "
        "bounded by the banding's pairs, signature joined twice on "
        "uniform ids, shingle intersection + set sizes assembled by "
        "a tagged-union fold on the pair key (no pair-scale reattach "
        "joins, no broadcast hints — r11 scale correction)",
    ),
    "neardup_source_modularity": QuerySpec(
        _neardup_source_modularity, _SOURCE_MODULARITY_SQL,
        "Newman modularity of the source partition over the near-dup "
        "candidate graph (is duplication source-assortative?): "
        "production banding pairs + two uniform-id label joins, then "
        "|sources|-scale aggregates; per-source signed contributions "
        "via the shift-DIV trick, DECIMAL-exact m^2 terms",
    ),
    "c4_rules_audit": QuerySpec(
        _c4_rules_audit, _C4_RULES_SQL,
        "C4 (Raffel et al. 2020 §2.2) cleaning-rule battery per "
        "source, sibling of gopher_rules_audit: six published "
        "heuristics (sentence minimum, terminal-punct line share, "
        "words-per-line, lorem-ipsum, curly-brace, bad-word panel) "
        "as integer cross-multiplies on ONE scan + one map-side "
        "aggregate, plus the line-level retained-mass figure the C4 "
        "line filter would actually keep",
    ),
    "classifier_pr_curve": QuerySpec(
        _classifier_pr_curve, _CLASSIFIER_PR_SQL,
        "decision-threshold companion of classifier_auc_calibration: "
        "11-point interpolated-precision PR curve (integer-exact "
        "recall test 10*TP >= r*P, max precision per grid point) + "
        "exact best-F1 operating point (struct-max argmax, "
        "higher-threshold tie-break); all over the score histogram "
        "with descending range-sharded cumulatives, empty when no "
        "gate-positives exist",
    ),
    "classifier_train_lr": QuerySpec(
        _classifier_train_lr, _TRAIN_LR_SQL,
        "logistic-regression training of the quality keep/drop "
        "classifier against the curation gate (closes the score/"
        "evaluate/train loop): 12 unrolled full-batch GD steps over "
        "the standardized 6-feature integer vector — one corpus scan "
        "into a checkpointed 6-column projection, a 1-row integer-"
        "moments broadcast, then k map-side gradient aggregates with "
        "the 1-row weight state broadcast (zero driver round-trips); "
        "weights stay micro-integers so the whole trajectory is "
        "oracle-able as k chained CTEs",
    ),
    "unigram_lm_encode": QuerySpec(
        _unigram_lm_encode, _UNIGRAM_ENCODE_SQL,
        "trainer-EXECUTING pattern #7 — closes the tokenizer loop: "
        "encodes the corpus with the unigram-LM vocabulary the "
        "trainer just learned and reports the per-source dataloader "
        "view (word/piece/char mass, fertility, chars-per-piece); "
        "trainer core runs once, ONE extra shared-core Viterbi pass "
        "under the final scores, then a vocabulary-scale hash join "
        "of (source, word) occurrence counts — never a per-token "
        "join; same word-domain filter as training on both engines",
    ),
    "classifier_apply_trained": QuerySpec(
        _classifier_apply_trained, _APPLY_TRAINED_SQL,
        "advisor-EXECUTING pattern #8 — DEPLOY the trained "
        "classifier: scores every doc with classifier_train_lr's "
        "step-12 weights (exact integer sign test over the "
        "standardized features, zero extra corpus scans — the "
        "hand-set decision rides the same feature scan) and reports "
        "per source the keep/drop delta vs the production hand-set "
        "gate plus each rule's agreement with the curation-gate "
        "label — the relation a curation owner reads before swapping "
        "the gate; moves the trained-vs-handset comparison from "
        "pytest into an oracled relation",
    ),
})
