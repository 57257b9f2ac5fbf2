"""Structured Streaming twins (events drained as a file stream).

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from iceberg_diag_spark.operators import (
    dedup,
    events,
    packing,
    profiling,
    sampling,
    shuffling,
    similarity,
    textops,
)
from iceberg_diag_spark.streaming import stream_ops
from iceberg_diag_spark.plans.common import (
    REGISTRY,
    QuerySpec,
    _stream_table,
    _t,
)
from iceberg_diag_spark.plans.oracles_tpch import _rev_cents
from iceberg_diag_spark.plans.oracles_events import (
    _EVENTS_CDC_MERGE_SQL,
    _EXPECTATIONS_SQL,
    _LATE_TAINT_CASE,
    _RANGE_SQL,
    _SEASONALITY_SQL,
    _SLI_BURN_SQL,
    _late_tainted_events,
)
from iceberg_diag_spark.plans.oracles_dedup import (
    _MINHASH_PRS_CTE,
    _NEAR_DUP_CLUSTERS_SQL,
)
from iceberg_diag_spark.plans.oracles_corpus import (
    _CENTROID_CONFUSION_SQL,
    _RELEASE_MANIFEST_SQL,
)


# Structured Streaming (events as a file stream, drained with
# availableNow → memory sink; over the complete finite input the
# result equals the batch query, so DuckDB oracles apply)
# --------------------------------------------------------------------

_STREAM_TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY window_start, event_type
"""


# every event belongs to exactly 2 sliding windows (1h size / 30m
# slide): the ones starting at floor(ts, 30m) and floor(ts, 30m)-30m
_STREAM_SLIDING_SQL = """
WITH starts AS (
  SELECT event_type,
         unnest([make_timestamp(epoch_us(ts) // 1800000000 * 1800000000),
                 make_timestamp(epoch_us(ts) // 1800000000 * 1800000000
                                - 1800000000)]) AS ws
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS event_count
FROM starts
GROUP BY ws, event_type
"""


_STREAM_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last_ts,
       CAST(count(*) AS BIGINT) AS event_count
FROM sess
GROUP BY user_id, session_seq
"""


_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def _stream_static_join(spark, sf_dir):
    ev = stream_ops.read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return stream_ops.run_to_table(
        stream_ops.stream_static_enriched_counts(ev, dim),
        "complete",
        "stream_static",
    )


_STREAM_STATIC_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(c_nationkey AS INTEGER) AS nationkey,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY window_start, nationkey
"""


_STREAM_DISTINCT_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
GROUP BY window_start
"""


def _events_salted_rollup(spark, sf_dir):
    """Two-stage salted aggregation (functions/skew.py) over the
    power-law event_type key: results are identical to a plain
    groupBy — the oracle proves the salt/merge decomposition exact —
    while the shuffle fans a hot key across 16 subkeys."""
    from iceberg_diag_spark.functions.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        {
            "event_count": ("sum", F.count("*")),
            "value_cents": (
                "sum",
                F.sum(F.floor(F.col("value") * 100).cast("long")),
            ),
            "max_value_cents": (
                "max",
                F.max(F.floor(F.col("value") * 100).cast("long")),
            ),
            "min_user_id": ("min", F.min("user_id")),
        },
    )


_EVENTS_SALTED_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(max(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS max_value_cents,
       CAST(min(user_id) AS BIGINT) AS min_user_id
FROM events
GROUP BY event_type
"""


_STREAM_USER_STATS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
GROUP BY user_id
"""


def _doc_hash_sample(spark, sf_dir):
    """Deterministic stratified sample of the corpus: 10% of English
    (the dominant language), 50% of everything else — the
    language-rebalance shape. Membership is a pure md5-bucket filter
    (reference-free, engine-independent, stable under corpus
    growth)."""
    return sampling.stratified_hash_sample(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id",
        rates={"en": 10},
        strata_col="lang",
        default_pct=50,
    ).select("doc_id", "lang", "source")


_DOC_HASH_SAMPLE_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
"""


def _orders_profile(spark, sf_dir):
    """Single-scan schema/data profile of the orders table: null
    counts, distinct cardinalities, and deterministic min/max
    representations for every column."""
    return profiling.profile(
        _t(spark, sf_dir, "orders"),
        {
            "o_orderkey": "int",
            "o_custkey": "int",
            "o_orderstatus": "str",
            "o_totalprice": "num",
            "o_orderdate": "ts",
            "o_orderpriority": "str",
        },
    )


_ORDERS_PROFILE_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS k_nulls,
         count(DISTINCT o_orderkey) AS k_dist,
         CAST(min(o_orderkey) AS VARCHAR) AS k_min,
         CAST(max(o_orderkey) AS VARCHAR) AS k_max,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_nulls,
         count(DISTINCT o_custkey) AS c_dist,
         CAST(min(o_custkey) AS VARCHAR) AS c_min,
         CAST(max(o_custkey) AS VARCHAR) AS c_max,
         sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS s_nulls,
         count(DISTINCT o_orderstatus) AS s_dist,
         min(o_orderstatus) AS s_min,
         max(o_orderstatus) AS s_max,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS t_nulls,
         count(DISTINCT o_totalprice) AS t_dist,
         CAST(CAST(FLOOR(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS t_min,
         CAST(CAST(FLOOR(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR) AS t_max,
         sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS d_nulls,
         count(DISTINCT o_orderdate) AS d_dist,
         strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS d_min,
         strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS d_max,
         sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS p_nulls,
         count(DISTINCT o_orderpriority) AS p_dist,
         min(o_orderpriority) AS p_min,
         max(o_orderpriority) AS p_max
  FROM orders
)
SELECT 'o_orderkey' AS column_name, CAST(n AS BIGINT) AS n_rows,
       CAST(k_nulls AS BIGINT) AS n_nulls, CAST(k_dist AS BIGINT) AS n_distinct,
       k_min AS min_repr, k_max AS max_repr FROM a
UNION ALL SELECT 'o_custkey', CAST(n AS BIGINT), CAST(c_nulls AS BIGINT),
       CAST(c_dist AS BIGINT), c_min, c_max FROM a
UNION ALL SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(s_nulls AS BIGINT),
       CAST(s_dist AS BIGINT), s_min, s_max FROM a
UNION ALL SELECT 'o_totalprice', CAST(n AS BIGINT), CAST(t_nulls AS BIGINT),
       CAST(t_dist AS BIGINT), t_min, t_max FROM a
UNION ALL SELECT 'o_orderdate', CAST(n AS BIGINT), CAST(d_nulls AS BIGINT),
       CAST(d_dist AS BIGINT), d_min, d_max FROM a
UNION ALL SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(p_nulls AS BIGINT),
       CAST(p_dist AS BIGINT), p_min, p_max FROM a
"""


def _doc_token_histogram(spark, sf_dir):
    return textops.token_histogram(_t(spark, sf_dir, "documents"))


_DOC_TOKEN_HIST_SQL = r"""
WITH toks AS (
  SELECT lang,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_toks
  FROM documents
)
SELECT lang,
       CASE WHEN n_toks <= 8 THEN '<=8'
            WHEN n_toks <= 16 THEN '<=16'
            WHEN n_toks <= 32 THEN '<=32'
            WHEN n_toks <= 64 THEN '<=64'
            WHEN n_toks <= 128 THEN '<=128'
            WHEN n_toks <= 256 THEN '<=256'
            WHEN n_toks <= 512 THEN '<=512'
            ELSE '513+' END AS bucket,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(n_toks), 4) AS avg_tokens
FROM toks
GROUP BY lang, bucket
"""


def _near_dup_triangles(spark, sf_dir):
    """Triangle count over the MinHash near-dup graph — the cluster-
    density audit (triangles/edges near the clique maximum ⇒ tight
    duplicate clusters, near zero ⇒ chains of borderline pairs)."""
    from iceberg_diag_spark.operators.graph import triangle_count

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return triangle_count(pairs)


_TRIANGLES_SQL = (
    "WITH "
    + _MINHASH_PRS_CTE.strip()
    + """
SELECT (SELECT CAST(count(*) AS BIGINT) FROM prs) AS edge_count,
       (SELECT CAST(count(*) AS BIGINT)
        FROM prs e1
        JOIN prs e2 ON e1.doc_b = e2.doc_a
        JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
         AS triangle_count
"""
)


def _user_interevent_stats(spark, sf_dir):
    return events.interevent_stats(_t(spark, sf_dir, "events"))


_INTEREVENT_SQL = """
WITH g AS (
  SELECT user_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us,
       round(avg(gap_us) / 1e6, 6) AS avg_gap_seconds,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM g
GROUP BY user_id
HAVING count(*) >= 2
"""


def _user_retention_cohorts(spark, sf_dir):
    return events.retention_cohorts(_t(spark, sf_dir, "events"))


_RETENTION_SQL = """
WITH ue AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1995-01-02', CAST(ts AS DATE)) // 7 AS BIGINT)
           AS week
  FROM events
),
first AS (SELECT user_id, min(week) AS cohort_week FROM ue GROUP BY user_id)
SELECT cohort_week,
       week - cohort_week AS weeks_since,
       CAST(count(DISTINCT ue.user_id) AS BIGINT) AS active_users
FROM ue JOIN first ON ue.user_id = first.user_id
GROUP BY cohort_week, weeks_since
"""


def _embedding_centroid_stats(spark, sf_dir):
    return similarity.label_centroid_stats(_t(spark, sf_dir, "embeddings"))


_CENTROID_SQL = """
WITH ex AS (
  SELECT label, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
per_vec AS (
  SELECT label, vec_id, sqrt(sum(val * val)) AS norm
  FROM ex GROUP BY label, vec_id
),
norms AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         round(avg(norm), 6) AS avg_norm
  FROM per_vec GROUP BY label
),
dims AS (
  SELECT label, pos, avg(val) AS mean_val FROM ex GROUP BY label, pos
),
cent AS (
  SELECT label, round(sqrt(sum(mean_val * mean_val)), 6) AS centroid_norm
  FROM dims GROUP BY label
)
SELECT norms.label, n_vecs, avg_norm, centroid_norm
FROM norms JOIN cent ON norms.label = cent.label
"""


def _doc_chunks(spark, sf_dir):
    return textops.doc_chunks(_t(spark, sf_dir, "documents"), chunk_tokens=64)


_DOC_CHUNKS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
c AS (
  SELECT doc_id, t,
         unnest(generate_series(0, CAST(ceil(len(t) / 64.0) AS INTEGER) - 1)) AS chunk_id
  FROM toks
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(t[chunk_id * 64 + 1 : chunk_id * 64 + 64]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(t[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' ')) AS chunk_hash
FROM c
"""


def _cluster_representatives(spark, sf_dir):
    """Canonical document per near-dup cluster — the step after
    clustering that actually deduplicates the corpus: keep the
    longest member (ties → smallest id), emit the cluster size so
    downstream can weight or audit. Composition: connected components
    → broadcast-joined doc lengths → per-cluster argmax window."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    cc = dedup.connected_components(docs.select("doc_id"), pairs)
    member = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
    # Struct-max argmax instead of a row_number window: (n_chars,
    # -doc_id) max picks the longest member with smallest-id
    # tie-break — identical to the old DESC/ASC window rank-1 row —
    # but the aggregate partial-combines map-side, where the window
    # shuffled AND sorted every member row per cluster (guide §2.3).
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__negid"))
    )
    return member.groupBy("cluster_id").agg(
        (-best.getField("__negid")).cast("long").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        best.getField("n_chars").cast("long").alias("rep_n_chars"),
    )


# clusters chain (same as _NEAR_DUP_CLUSTERS_SQL) + representative
# selection via the identical (n_chars DESC, doc_id ASC) window.
_CLUSTER_REPS_SQL = _NEAR_DUP_CLUSTERS_SQL.replace(
    "SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id\nFROM reach GROUP BY node",
    """, cc AS (
  SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
),
member AS (
  SELECT cc.cluster_id, cc.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rn
  FROM cc JOIN documents d ON cc.doc_id = d.doc_id
)
SELECT cluster_id,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_n_chars
FROM member GROUP BY cluster_id""",
)


def _part_name_fuzzy(spark, sf_dir):
    return textops.fuzzy_name_pairs(
        _t(spark, sf_dir, "part"), "p_name", max_distance=3, prefix_len=2
    )


_PART_FUZZY_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
FROM names a
JOIN names b ON substring(a.name, 1, 2) = substring(b.name, 1, 2)
            AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


def _doc_length_deciles(spark, sf_dir):
    return textops.length_deciles(_t(spark, sf_dir, "documents"))


_DOC_DECILES_SQL = """
WITH qs AS (
  SELECT [quantile_cont(n_chars, 0.1), quantile_cont(n_chars, 0.2),
          quantile_cont(n_chars, 0.3), quantile_cont(n_chars, 0.4),
          quantile_cont(n_chars, 0.5), quantile_cont(n_chars, 0.6),
          quantile_cont(n_chars, 0.7), quantile_cont(n_chars, 0.8),
          quantile_cont(n_chars, 0.9)] AS q
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(1 + (CASE WHEN n_chars > q[1] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[2] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[3] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[4] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[5] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[6] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[7] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[8] THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > q[9] THEN 1 ELSE 0 END) AS BIGINT)
         AS decile
FROM documents CROSS JOIN qs
"""


def _doc_decontamination(spark, sf_dir):
    """Eval set = the deterministic doc_id % 10 == 0 slice; training
    side is the rest. Contamination = any shared 8-gram."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    return textops.ngram_decontaminate(train, ev, n=8)


_DOC_DECONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i : i + 7], ' ')) AS g
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
),
eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
FROM grams gr JOIN eval_grams e ON gr.g = e.g
WHERE gr.doc_id % 10 <> 0
GROUP BY gr.doc_id
"""


def _epoch_shuffle(spark, sf_dir):
    return shuffling.epoch_shuffle(
        _t(spark, sf_dir, "documents"), seed="epoch-0"
    )


# The operator's (shard, key, id) total order equals plain (key, id)
# order — the shard is the key's first character, so the oracle is a
# single window. The Spark side still executes it as 16 parallel
# shards + broadcast offsets; only the *contract* collapses.
_EPOCH_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id, md5('epoch-0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
         AS shuffle_pos
FROM keyed
"""


def _q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp in the driver schema —
    a supplier's cost for a part is its minimum observed
    l_extendedprice): for each small LARGE-type part, the EUROPE
    supplier(s) offering it cheapest. The spec's correlated
    min-subquery is expressed as a window min over the part key —
    one shuffle, no self-rejoin. Dims are broadcast; the min is
    taken over per-row integer cents (floor is monotone, so
    min∘floor ≡ floor∘min)."""
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    costs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cost_cents")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        costs.withColumn("__min", F.min("cost_cents").over(w))
        .filter(F.col("cost_cents") == F.col("__min"))
        .select(
            F.floor(F.col("s_acctbal") * 100).cast("long").alias("s_acctbal_cents"),
            "s_name",
            "n_name",
            "p_partkey",
            "cost_cents",
        )
    )


_Q2_SQL = """
WITH europe_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
costs AS (
  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
         min(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS cost_cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_size <= 15 AND p_type = 'LARGE'
  JOIN europe_supp ON l_suppkey = s_suppkey
  GROUP BY p_partkey, s_suppkey, s_name, s_acctbal, n_name
),
ranked AS (
  SELECT *, min(cost_cents) OVER (PARTITION BY p_partkey) AS min_cost
  FROM costs
)
SELECT CAST(FLOOR(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
       s_name, n_name, p_partkey, cost_cents
FROM ranked WHERE cost_cents = min_cost
"""


def _q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (adapted: lineitem revenue through EUROPE
    suppliers stands in for partsupp stock value): parts whose
    supplied value exceeds 1.5× the mean per-part value. The spec's
    scale-dependent HAVING fraction is replaced by a self-normalizing
    integer cross-multiply (value · 2 · n_parts > 3 · total), exact
    in both engines at bench scales; at extreme corpus sizes the
    compare would move to double/decimal to stay in range."""
    supp_eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vals = (
        li.join(F.broadcast(supp_eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev_cents()).alias("value_cents"))
    )
    tot = vals.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        vals.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents") * 2 * F.col("n_parts")
            > 3 * F.col("total_cents")
        )
        .select("l_partkey", "value_cents")
    )


_Q11_SQL = """
WITH vals AS (
  SELECT l_partkey,
         CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
),
tot AS (SELECT sum(value_cents) AS total_cents, count(*) AS n_parts FROM vals)
SELECT l_partkey, value_cents
FROM vals, tot
WHERE value_cents * 2 * n_parts > 3 * total_cents
"""


def _q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (adapted: distinct suppliers observed in
    lineitem stand in for partsupp; negative-balance suppliers stand
    in for the spec's complaint-comment exclusion): distinct-supplier
    count per (brand, type, size) for selected part families,
    excluding flagged suppliers by anti-join."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def _q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape (adapted: no ps_availqty — a supplier
    qualifies when it shipped the majority of a gear part's 1997
    volume): AMERICA suppliers dominating at least one part. The
    spec's nested quantity subquery is a window sum over the part
    key; quantities sum as integers so the majority compare is
    exact cross-engine."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = shipped.withColumn(
        "qty_total", F.sum("qty").over(w)
    ).filter(F.col("qty") * 2 > F.col("qty_total"))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        dominant.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select("s_suppkey", "s_name")
        .distinct()
    )


_Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
tot AS (SELECT l_partkey, sum(qty) AS qty_total FROM shipped GROUP BY l_partkey)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM shipped sh
JOIN tot t ON sh.l_partkey = t.l_partkey
JOIN supplier s ON sh.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'AMERICA' AND sh.qty * 2 > t.qty_total
"""


def _doc_pack_sequences(spark, sf_dir):
    return packing.pack_sequences(
        _t(spark, sf_dir, "documents"), capacity_tokens=256, n_shards=4
    )


# Fit-before-append packing as a boundary recursion (same family as
# the binpack oracle): a sequence starting at row srn with
# base = P(srn-1) ends just BEFORE the first row e where
# P(e) - base > 256 (that doc starts the next sequence), except when
# e == srn — a doc alone over capacity keeps its own sequence.
# Recursion depth = max sequences per (source, shard), not rows.
_DOC_PACK_SQL = r"""
WITH RECURSIVE data AS (
  SELECT source, doc_id % 4 AS shard, doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS sz
  FROM documents
),
pre AS (
  SELECT source, shard, sz,
         row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn,
         sum(sz) OVER (PARTITION BY source, shard ORDER BY doc_id) AS ps
  FROM data
),
bounds AS (
  SELECT source, shard, 0 AS gid, CAST(1 AS BIGINT) AS srn,
         CAST(0 AS HUGEINT) AS base
  FROM (SELECT DISTINCT source, shard FROM data)
  UNION ALL
  SELECT q.source, q.shard, q.gid + 1,
         CASE WHEN q.ern = q.srn THEN q.ern + 1 ELSE q.ern END,
         CASE WHEN q.ern = q.srn THEN q.eps ELSE q.pps END
  FROM (
    SELECT b.source, b.shard, b.gid, b.srn,
           min(p.rn) AS ern, min(p.ps) AS eps,
           arg_min(p.ps - p.sz, p.rn) AS pps
    FROM bounds b
    JOIN pre p ON p.source = b.source AND p.shard = b.shard
              AND p.rn >= b.srn
              AND p.ps - b.base > 256
    GROUP BY b.source, b.shard, b.gid, b.srn
  ) q
),
tot AS (
  SELECT source, shard, max(rn) AS mx, max(ps) AS total
  FROM pre GROUP BY source, shard
),
grp AS (
  SELECT b.source, b.shard, b.gid,
         coalesce(lead(b.srn) OVER w, t.mx + 1) - b.srn AS cnt,
         coalesce(lead(b.base) OVER w, t.total) - b.base AS toks
  FROM bounds b
  JOIN tot t ON t.source = b.source AND t.shard = b.shard
            AND b.srn <= t.mx
  WINDOW w AS (PARTITION BY b.source, b.shard ORDER BY b.gid)
)
SELECT source, CAST(shard AS BIGINT) AS shard, CAST(gid AS BIGINT) AS seq_id,
       CAST(cnt AS BIGINT) AS doc_count, CAST(toks AS BIGINT) AS seq_tokens,
       toks > 256 AS truncated
FROM grp
"""


def _boilerplate_removal(spark, sf_dir):
    """Boilerplate pass over documents carrying a per-source footer
    sentence — the synthetic corpus has no natural repeated
    sentences, so the footer (shared by every doc of a source) gives
    the threshold real positives while the body sentence stays
    unique per doc."""
    docs = _t(spark, sf_dir, "documents")
    with_footer = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(". subscribe to "),
            F.col("source"),
            F.lit(" newsletter today"),
        ),
    )
    return textops.boilerplate_removal(with_footer, min_docs=5)


_BOILERPLATE_SQL = r"""
WITH base AS (
  SELECT doc_id,
         text || '. subscribe to ' || source || ' newsletter today' AS t
  FROM documents
),
arrs AS (
  SELECT doc_id, regexp_split_to_array(t, '\. ') AS arr FROM base
),
s AS (
  SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos, arr FROM arrs
),
h AS (
  SELECT doc_id, pos, arr[pos] AS sent,
         md5(lower(trim(arr[pos]))) AS hh
  FROM s
),
boiler AS (
  SELECT hh FROM h GROUP BY hh HAVING count(DISTINCT doc_id) >= 5
),
marked AS (
  SELECT x.doc_id, x.pos, x.sent, b.hh IS NOT NULL AS is_b
  FROM h x LEFT JOIN boiler b ON x.hh = b.hh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(count(*) - sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(coalesce(
         string_agg(CASE WHEN NOT is_b THEN sent END, '. ' ORDER BY pos),
         '')) AS cleaned_md5
FROM marked GROUP BY doc_id
"""


def _pii_redaction(spark, sf_dir):
    """PII pass over documents carrying a deterministic contact
    footer derived from doc_id — the corpus's own text has no PII by
    construction, so the footer gives the patterns real positives
    while staying exactly reproducible in the oracle."""
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
    return textops.pii_redaction(
        docs.withColumn("text", footer)
    )


_PII_REDACTION_SQL = r"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ssn '
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ph 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
),
counted AS (
  SELECT doc_id, t,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssns,
         len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS n_phones,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
           '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS red
  FROM pii
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ssns AS BIGINT) AS n_ssns,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(n_emails + n_ssns + n_phones AS BIGINT) AS pii_total,
       md5(red) AS redacted_md5,
       CAST(length(red) AS BIGINT) AS redacted_len
FROM counted
"""


def _stream_centroid_confusion(spark, sf_dir):
    return stream_ops.run_to_table(
        stream_ops.centroid_confusion_stream(
            stream_ops.read_embeddings_stream(spark, sf_dir),
            _t(spark, sf_dir, "embeddings"),
        ),
        "complete",
        "stream_centroid_confusion",
    )


_STREAM_DISORDER_SQL = """
WITH o AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         max(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN frontier IS NULL OR frontier < ts_us THEN 0
              ELSE frontier - ts_us END AS lateness_us
  FROM o
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
       CAST(sum(lateness_us) AS BIGINT) AS total_lateness_us
FROM l
GROUP BY event_type
"""


_STREAM_SCD2_SQL = """
WITH runs AS (
  SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
f AS (
  SELECT user_id, state, ts_us, event_id
  FROM runs WHERE prev IS NULL OR prev <> state
),
iv AS (
  SELECT user_id, state,
         ts_us AS valid_from_us,
         lead(ts_us) OVER w2 AS valid_to_us,
         CAST(row_number() OVER w2 AS BIGINT) AS version_seq
  FROM f
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
-- disorder_seen is identically 0 under the oracle's single
-- availableNow drain: no row can arrive behind a prior batch's
-- per-user frontier when there is only one batch
SELECT user_id, state, valid_from_us, valid_to_us, version_seq,
       CAST(0 AS BIGINT) AS disorder_seen
FROM iv WHERE valid_to_us IS NOT NULL
"""


_STREAM_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
),
toks AS (
  SELECT doc_id, source, string_split(norm, ' ') AS t,
         CAST(length(norm) AS BIGINT) AS tc
  FROM base
),
g AS (
  SELECT toks.doc_id, tc, ns.n,
         unnest(CASE WHEN len(t) >= ns.n THEN
            list_transform(generate_series(1, len(t) - ns.n + 1),
                           i -> array_to_string(t[i:i+ns.n-1], ' '))
         ELSE [] END) AS g
  FROM toks CROSS JOIN (SELECT unnest([2, 5]) AS n) ns
),
cg AS (SELECT doc_id, tc, n, g, CAST(count(*) AS BIGINT) AS c
       FROM g GROUP BY ALL),
top2 AS (
  SELECT doc_id, g, c FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, g) AS rn
    FROM cg WHERE n = 2) WHERE rn = 1
),
dup5 AS (
  SELECT doc_id,
         CAST(COALESCE(sum((c - 1) * length(g)) FILTER (c > 1), 0)
              AS BIGINT) AS dc
  FROM cg WHERE n = 5 GROUP BY doc_id
),
flags AS (
  SELECT toks.doc_id, toks.source,
         CASE WHEN ((1000000 * COALESCE(top2.c, 0)
                     * length(COALESCE(top2.g, '')))
                      // greatest(tc, 1) > 180000
                    AND COALESCE(top2.c, 0) >= 2)
               OR (1000000 * COALESCE(dup5.dc, 0))
                    // greatest(tc, 1) > 150000
              THEN 1 ELSE 0 END AS rep
  FROM toks
  LEFT JOIN top2 ON top2.doc_id = toks.doc_id
  LEFT JOIN dup5 ON dup5.doc_id = toks.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(rep) AS BIGINT) AS n_repetitive
FROM flags GROUP BY source
"""


def _stream_watermark_advisor(spark, sf_dir):
    ev = _late_tainted_events(
        stream_ops.read_events_stream(spark, sf_dir)
    )
    return stream_ops.run_to_table(
        stream_ops.watermark_advisor_stream(ev, target_ppm=1_000),
        "update",
        "stream_wm_advisor",
    )


# Single availableNow drain = one batch: cumulative state equals the
# per-type batch computation (the disorder_monitor oracle shape) and
# the integer // ppm matches the stream's arithmetic exactly.
_STREAM_WATERMARK_SQL = f"""
WITH o AS (
  SELECT event_type,
         epoch_us(ts) - {_LATE_TAINT_CASE} AS ts_us,
         max(epoch_us(ts) - {_LATE_TAINT_CASE}) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN frontier IS NULL OR frontier < ts_us THEN 0
              ELSE frontier - ts_us END AS lateness_us
  FROM o
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN lateness_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN lateness_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(sum(CASE WHEN lateness_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d4
  FROM l GROUP BY event_type
),
u AS (
  SELECT event_type, CAST(1000000 AS BIGINT) AS watermark_us, n_events, d1 AS n_dropped FROM g
  UNION ALL SELECT event_type, 10000000, n_events, d2 FROM g
  UNION ALL SELECT event_type, 60000000, n_events, d3 FROM g
  UNION ALL SELECT event_type, 600000000, n_events, d4 FROM g
),
adv AS (
  SELECT event_type, watermark_us, n_events, n_dropped,
         (1000000 * n_dropped) // greatest(n_events, 1) AS drop_ppm
  FROM u
),
ok AS (
  SELECT event_type, min(watermark_us) AS wm
  FROM adv WHERE drop_ppm <= 1000 GROUP BY event_type
),
fb AS (SELECT event_type, max(watermark_us) AS wm FROM adv GROUP BY event_type),
pick AS (
  SELECT f.event_type, coalesce(o2.wm, f.wm) AS wm,
         o2.wm IS NOT NULL AS meets_target
  FROM fb f LEFT JOIN ok o2 USING (event_type)
)
SELECT a.event_type, a.n_events,
       CAST(a.watermark_us AS BIGINT) AS recommended_watermark_us,
       a.n_dropped, CAST(a.drop_ppm AS BIGINT) AS drop_ppm,
       p.meets_target
FROM pick p
JOIN adv a ON a.event_type = p.event_type AND a.watermark_us = p.wm
"""


# The stream twin shares the batch MERGE oracle; disorder_seen is
# identically 0 under the oracle's single availableNow drain (no row
# can arrive behind a prior batch's per-user frontier when there is
# only one batch).
_STREAM_CDC_MERGE_SQL = _EVENTS_CDC_MERGE_SQL.replace(
    "       max_by(CASE WHEN surv THEN value END,\n"
    "              CASE WHEN surv THEN event_id END) AS last_value",
    "       max_by(CASE WHEN surv THEN value END,\n"
    "              CASE WHEN surv THEN event_id END) AS last_value,\n"
    "       CAST(0 AS BIGINT) AS disorder_seen",
)


REGISTRY.update({
    "q2_min_cost_supplier": QuerySpec(
        _q2_min_cost_supplier, _Q2_SQL,
        "TPC-H Q2 shape (lineitem-as-partsupp): cheapest EUROPE "
        "supplier per part via window min, no correlated rejoin",
    ),
    "q11_important_parts": QuerySpec(
        _q11_important_parts, _Q11_SQL,
        "TPC-H Q11 shape: per-part supplied value vs broadcast "
        "scalar threshold (self-normalizing integer compare)",
    ),
    "q16_supplier_part_counts": QuerySpec(
        _q16_supplier_part_counts, _Q16_SQL,
        "TPC-H Q16 shape: distinct-supplier count per part family "
        "with anti-joined supplier exclusion",
    ),
    "q20_potential_promotion": QuerySpec(
        _q20_potential_promotion, _Q20_SQL,
        "TPC-H Q20 shape: majority-volume supplier per part via "
        "window sum + region semi-join",
    ),
    "doc_chunks": QuerySpec(
        _doc_chunks, _DOC_CHUNKS_SQL,
        "fixed-size token chunking into training windows (row-local, "
        "zero-shuffle; chunk text emitted as md5)",
    ),
    "doc_pack_sequences": QuerySpec(
        _doc_pack_sequences, _DOC_PACK_SQL,
        "greedy fit-before-append sequence packing into 256-token "
        "training windows, per-key Arrow fold (fold_by_key); "
        "boundary-recursive CTE oracle",
    ),
    "pii_redaction": QuerySpec(
        _pii_redaction, _PII_REDACTION_SQL,
        "email/SSN/phone detect + mask; redacted text pinned by md5; "
        "pure codegen regex chain, zero shuffle",
    ),
    "boilerplate_removal": QuerySpec(
        _boilerplate_removal, _BOILERPLATE_SQL,
        "C4-style corpus-wide repeated-sentence removal: hash-agg "
        "boilerplate set broadcast back, docs rebuilt in order "
        "(struct array_sort, no per-doc window); cleaned text pinned "
        "by md5",
    ),
    "cluster_representatives": QuerySpec(
        _cluster_representatives, _CLUSTER_REPS_SQL,
        "canonical doc per near-dup cluster (longest member) + "
        "cluster size — CC composition, recursive-CTE oracle",
    ),
    "part_name_fuzzy": QuerySpec(
        _part_name_fuzzy, _PART_FUZZY_SQL,
        "prefix-blocked Levenshtein vocabulary matching (edit "
        "distance ≤ 3 within 2-char blocks)",
    ),
    "doc_length_deciles": QuerySpec(
        _doc_length_deciles, _DOC_DECILES_SQL,
        "decile assignment via broadcast percentile thresholds — "
        "no global-sort ntile",
    ),
    "doc_decontamination": QuerySpec(
        _doc_decontamination, _DOC_DECONTAM_SQL,
        "benchmark decontamination: shared-8-gram hash join against "
        "a broadcast eval-set gram set",
    ),
    "epoch_shuffle": QuerySpec(
        _epoch_shuffle, _EPOCH_SHUFFLE_SQL,
        "seeded deterministic epoch shuffle — sharded rank + "
        "broadcast offsets, no global window",
    ),
    "doc_hash_sample": QuerySpec(
        _doc_hash_sample, _DOC_HASH_SAMPLE_SQL,
        "deterministic stratified md5-bucket sampling (language "
        "rebalance; reproducible and growth-stable, unlike rand())",
    ),
    "orders_profile": QuerySpec(
        _orders_profile, _ORDERS_PROFILE_SQL,
        "single-scan table profile: nulls / distincts / min-max "
        "per column, unpivoted via stack()",
    ),
    "doc_token_histogram": QuerySpec(
        _doc_token_histogram, _DOC_TOKEN_HIST_SQL,
        "token-count histogram per language (power-of-two integer "
        "buckets — no cross-engine log2)",
    ),
    "near_dup_triangles": QuerySpec(
        _near_dup_triangles, _TRIANGLES_SQL,
        "triangle count over the MinHash near-dup graph (oriented "
        "two-path join, cluster-density audit)",
    ),
    "user_interevent_stats": QuerySpec(
        _user_interevent_stats, _INTEREVENT_SQL,
        "per-user inter-event gap stats (lag window + grouped agg "
        "sharing one shuffle)",
    ),
    "user_retention_cohorts": QuerySpec(
        _user_retention_cohorts, _RETENTION_SQL,
        "weekly retention cohorts via integer week arithmetic",
    ),
    "embedding_centroid_stats": QuerySpec(
        _embedding_centroid_stats, _CENTROID_SQL,
        "per-label embedding geometry: mean norm vs centroid norm "
        "(collapse audit), one posexplode feeding both aggregates",
    ),
    "stream_tumbling_counts": QuerySpec(
        _stream_table(stream_ops.tumbling_counts, "complete", "stream_tumbling"),
        _STREAM_TUMBLING_SQL,
        "Structured Streaming watermarked 1h tumbling rollup "
        "(availableNow drain; equals batch over finite input)",
    ),
    "stream_sliding_counts": QuerySpec(
        _stream_table(stream_ops.sliding_counts, "complete", "stream_sliding"),
        _STREAM_SLIDING_SQL,
        "Structured Streaming sliding windows (1h size / 30m slide)",
    ),
    "stream_session_windows": QuerySpec(
        _stream_table(stream_ops.session_windows, "complete", "stream_sessions"),
        _STREAM_SESSIONS_SQL,
        "Structured Streaming native session_window per user "
        "(gap-merge semantics == batch sessionization)",
    ),
    "stream_dedup_keys": QuerySpec(
        _stream_table(stream_ops.dedup_keys_stream, "append", "stream_dedup"),
        _STREAM_DEDUP_SQL,
        "streaming exact dedup via dropDuplicatesWithinWatermark "
        "(key-projected → order-independent)",
    ),
    "stream_stream_interval_join": QuerySpec(
        _stream_table(stream_ops.stream_click_purchase_join, "append", "stream_join"),
        _RANGE_SQL,
        "stream-stream interval join (clicks within 30 min before "
        "purchase) — watermark-bounded join state; equals the batch "
        "range join over finite input",
    ),
    "stream_user_running_stats": QuerySpec(
        _stream_table(stream_ops.user_running_stats, "update", "stream_user_stats"),
        _STREAM_USER_STATS_SQL,
        "custom stateful op (applyInPandasWithState): per-user running "
        "count/cents/max-ts; final state == batch rollup",
    ),
    "stream_static_enrichment": QuerySpec(
        _stream_static_join, _STREAM_STATIC_SQL,
        "stream-static broadcast join (stateless) + windowed rollup "
        "per nation — the slowly-changing-dimension enrichment shape",
    ),
    "stream_distinct_users_hourly": QuerySpec(
        _stream_table(
            stream_ops.distinct_users_per_window, "complete", "stream_distinct"
        ),
        _STREAM_DISTINCT_SQL,
        "windowed distinct count via chained stateful operators "
        "(dedup -> count; COUNT DISTINCT is unsupported in streams)",
    ),
    "events_salted_rollup": QuerySpec(
        _events_salted_rollup, _EVENTS_SALTED_SQL,
        "two-stage salted aggregation for power-law keys; oracle "
        "proves the salt/merge decomposition exact",
    ),
    "stream_centroid_confusion": QuerySpec(
        # draining the full parquet makes the streaming result equal
        # the batch confusion — the batch oracle applies verbatim
        _stream_centroid_confusion, _CENTROID_CONFUSION_SQL,
        "streaming nearest-centroid drift monitor: one-row static "
        "centroid-array cross join + row-local argmin fold — "
        "stateless per vector, #labels²-bounded count state",
    ),
    "stream_disorder_monitor": QuerySpec(
        _stream_table(stream_ops.disorder_monitor, "update", "stream_disorder"),
        _STREAM_DISORDER_SQL,
        "streaming watermark-calibration monitor: per-type keyed-"
        "state event-time frontier + cumulative lateness stats "
        "(applyInPandasWithState, vectorized in-batch running max); "
        "single availableNow drain equals the batch per-type audit",
    ),
    "stream_scd2_history": QuerySpec(
        _stream_table(stream_ops.scd2_stream, "append", "stream_scd2"),
        _STREAM_SCD2_SQL,
        "streaming SCD2 feed (applyInPandasWithState): per-user "
        "keyed state holds the open run, every closed validity "
        "interval is emitted append-mode — equals the batch "
        "scd2_build's closed subset over the finite drain",
    ),
    "stream_repetition_gate": QuerySpec(
        _stream_table(
            stream_ops.repetition_gate_stream,
            "complete",
            "stream_repetition_gate",
            stream_ops.read_documents_stream,
        ),
        _STREAM_REPETITION_SQL,
        "streaming per-source repetition monitor: running doc / "
        "repetitive-doc counts under the shared Gopher-style gate "
        "(with_repetitive_flag — expression-identical to the batch "
        "profile); bounded per-source state, stateless row work",
    ),
    "stream_watermark_advisor": QuerySpec(
        _stream_watermark_advisor, _STREAM_WATERMARK_SQL,
        "streaming self-calibrating watermark recommender: per-type "
        "keyed state carries frontier + per-candidate cumulative "
        "would-drop counters, emits the recommended delay each "
        "batch; single-drain equals the per-type batch pick",
    ),
    "stream_cdc_merge": QuerySpec(
        _stream_table(stream_ops.cdc_merge_stream, "update", "stream_cdc_merge"),
        _STREAM_CDC_MERGE_SQL,
        "streaming MERGE mirror: per-user keyed state (tombstone "
        "frontier + surviving count + latest value) re-emits the "
        "snapshot row per batch; late deletes degrade to an explicit "
        "disorder_seen counter, never a silent guess; one "
        "availableNow drain equals the batch MERGE relation",
    ),
    "stream_expectations_gate": QuerySpec(
        _stream_table(
            stream_ops.expectations_gate_stream, "complete", "stream_expectations_gate"
        ),
        _EXPECTATIONS_SQL,
        "streaming data-contract gate: per-row rules expand "
        "statelessly BEFORE the aggregation, so state is one row per "
        "rule (bounded by the contract); same predicate strings as "
        "the batch audit, one availableNow drain equals it exactly",
    ),
    "stream_sli_burn_rate": QuerySpec(
        stream_ops.run_sli_burn_rate_stream,
        _SLI_BURN_SQL,
        "streaming burn-rate twin via the accumulated-rollup idiom: "
        "each micro-batch folds into a persistent hourly rollup "
        "(idempotent batch=<id> overwrite), the multi-window burn "
        "table re-frames from the re-summed rollup with the batch "
        "operator's own logic — trailing windows need cross-hour "
        "reads no keyed state can serve; one availableNow drain "
        "equals the batch relation exactly",
    ),
    "stream_seasonality_profile": QuerySpec(
        stream_ops.run_seasonality_profile_stream, _SEASONALITY_SQL,
        "streaming twin #21 (accumulated-rollup idiom): per-batch "
        "idempotent batch=<id> (type, hour_epoch) partials + the "
        "batch operator's own cell/outlier logic over the re-summed "
        "rollup — the per-type overall mean re-prices all 168 cells "
        "on any new hour, a cross-key read no keyed state serves; "
        "one availableNow drain provably equals the batch profile",
    ),
    "stream_corpus_release": QuerySpec(
        stream_ops.run_corpus_release_stream,
        _RELEASE_MANIFEST_SQL,
        "streaming twin #22 — INCREMENTAL corpus release: each "
        "micro-batch's funnel survivors land via the batch sink "
        "(release_assignments + write_assigned_shards) under an "
        "idempotent batch=<id> overwrite (replayed batches can't "
        "duplicate); manifest re-derived from the accumulated "
        "written files; dedup/holdout/packing scoped per increment "
        "(documented delta — cross-increment dups are the "
        "reconciliation job's, incremental_exact_dedup_stream gates "
        "them at ingest); one availableNow drain equals the batch "
        "corpus_release_manifest, so the shared oracle applies",
    ),
})
