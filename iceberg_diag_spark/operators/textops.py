"""Text-analysis operators for training-data pipelines.

All hot-path expressions are JVM built-ins (split/regexp/aggregate) —
no Python UDFs — so they pipeline inside whole-stage codegen and scale
linearly with the scan. Per-document outputs are narrow (ids + a few
numerics), keeping shuffle/output volume tiny relative to input text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import (
    ensure_parallelism,
    join_null_safe,
    materialize,
)
from iceberg_diag_spark.operators.dedup import normalized_text, word_ngram_rows

# Columns and tuning constants of the operators below.
DOC_ID = "doc_id"
LR_PPM = 2_000_000
MAX_WORD_LEN = 24
N_BINS = 10
N_CHARS = "n_chars"
N_SHARDS = 16
SOURCE = "source"
TEXT = "text"

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately minimal — language ID here is a scoring
# shape (count hits per language, argmax), not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
}

# The union list, sorted: "some language scored a stopword hit" is
# exactly "the token set overlaps this list" — consumers that only
# need the boolean (the funnel's s1 gate) test it with ONE
# arrays_overlap instead of the 4-way greatest-of-structs argmax,
# which measured 3× slower for the surrounding projection (the struct
# construction defeats codegen subexpression elimination).
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalized_text(col), " ")


def _trigrams(t: Column) -> Column:
    """Row-local word trigrams of token array `t` (empty below three
    tokens): a transform over the array, so every repetition signal
    built on it stays a zero-shuffle projection."""
    return F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.array_join(F.slice(t, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _dup_trigram_frac(t: Column) -> Column:
    """Duplicate-trigram share of token array `t` (0 when it has no
    trigrams) — the classifier's repetition feature."""
    tri = _trigrams(t)
    return (
        F.size(tri) - F.size(F.array_distinct(tri))
    ).cast("double") / F.greatest(F.size(tri), F.lit(1))


def bpe_ish_tokens(col: Column) -> Column:
    """A BPE-ish subword proxy: split on whitespace AND on
    letter/digit/punctuation boundaries, the usual pre-tokenization
    regex shape. Gives a deterministic token count without a real
    tokenizer dependency."""
    pieces = F.regexp_extract_all(
        F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    return pieces


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document counting stats: characters, whitespace tokens,
    distinct tokens, BPE-ish subword count."""
    t = tokens(F.col(TEXT))
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.length(F.col(TEXT)).cast("long").alias("char_len"),
        F.size(t).cast("long").alias("token_count"),
        F.size(F.array_distinct(t)).cast("long").alias("uniq_token_count"),
        F.size(bpe_ish_tokens(F.col(TEXT))).cast("long").alias("subword_count"),
    )


def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """Quality-signal column expressions (shared by quality_scores
    and fused pipelines like corpus_curation): mean token length,
    type-token ratio, stopword ratio (en), alpha ratio."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    text = F.col(text_col)
    alpha_chars = F.length(F.regexp_replace(F.lower(text), r"[^a-z]", ""))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(t, sw))
    one = F.greatest(n_tok, F.lit(1))
    return {
        "mean_token_len": F.length(text) / one,
        "type_token_ratio": F.size(F.array_distinct(t)).cast("double") / one,
        "stopword_ratio": stop_hits.cast("double") / one,
        "alpha_ratio": alpha_chars.cast("double")
        / F.greatest(F.length(text), F.lit(1)),
    }


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals as one projection over one scan —
    composable filters for corpus curation. Includes the repetition
    signal (duplicate-trigram count, the Gopher-style repetition
    filter) as exact integers: trigrams are built row-local with a
    transform over the token array, so the whole operator stays a
    zero-shuffle projection."""
    exprs = quality_exprs()
    tri = _trigrams(tokens(F.col(TEXT)))
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        *[c.alias(name) for name, c in exprs.items()],
        F.size(tri).cast("long").alias("trigram_count"),
        (F.size(tri) - F.size(F.array_distinct(tri)))
        .cast("long")
        .alias("dup_trigram_count"),
    )


def language_best(text_col: str = "text") -> Column:
    """Argmax-of-structs language pick (shared expression): a struct
    (hits, lang) of the winning stopword list — same max(struct)
    trick as the diagnostics argmax, pure projection, no shuffle."""
    t = tokens(F.col(text_col))
    lang_scores = [
        F.struct(
            F.size(
                F.array_intersect(t, F.array([F.lit(w) for w in words]))
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(STOPWORDS.items())
    ]
    return F.greatest(*lang_scores)


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-voting language ID: count token hits against each
    language's stopword list, argmax via greatest-of-structs."""
    best = language_best()
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        best["hits"].alias("stopword_hits"),
    )


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: winnowing-style — take word 8-gram
    shingles, hash each (md5 → first 16 hex chars as the rolling
    hash), keep the minimum as the document fingerprint. Robust to
    small edits at the ends; oracle-expressible (md5).

    Hot-path shape: exploded codegen shingles + min-aggregate (one
    shuffle, map-side combine), not interpreted array transforms;
    a left join reattaches docs too short to shingle ('')."""
    grams = word_ngram_rows(docs, TEXT, DOC_ID, 8)
    fp = grams.groupBy(DOC_ID).agg(
        F.min(F.substring(F.md5("gram"), 1, 16)).alias("__fp")
    )
    return (
        docs.select(F.col(DOC_ID))
        .join(fp, DOC_ID, "left")
        .select(
            F.col(DOC_ID), F.coalesce(F.col("__fp"), F.lit("")).alias("fingerprint")
        )
    )


def lang_stats(docs: DataFrame) -> DataFrame:
    """Corpus rollup by language label."""
    return docs.groupBy("lang").agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction):
    tf = term count in the doc, idf = ln(N / df), score = tf * idf.

    Shape: one explode → tf aggregate on (doc, term); df aggregate on
    term reuses the same relation; the corpus size N joins in-plan as
    a broadcast single-row aggregate (no driver round-trip). The
    top-k window ranks by round(score, 6) with a term tie-break: the
    rank key IS the hashed score column, so ranking determinism
    reduces to the same round-6 cross-engine assumption every other
    oracled query already makes (no separate quantization grid with
    its own boundary). Exact real-valued ties — possible, e.g.
    3·ln(8/2) = 2·ln(8/1) — collapse to equal rounded keys and break
    on the term string in both engines. A mathematically exact
    integer comparator exists (N^tf1·df2^tf2 vs N^tf2·df1^tf1) but
    needs arbitrary-precision integers neither engine's SQL offers.

    Output: (doc_id, term, tf, score, rank) — k rows per doc.
    """
    from pyspark.sql.window import Window

    toks = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.explode(F.split(normalized_text(F.col(TEXT)), " ")).alias("term"),
    )
    # two consumers (df aggregate, scored join)
    tf = toks.groupBy(DOC_ID, "term").agg(F.count("*").alias("tf"))
    tf = materialize(tf)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(DOC_ID),
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy(DOC_ID).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(DOC_ID, "term", "tf", "score", "rank")
    )


# Power-of-two token-count bucket edges; CASE on integer counts is
# exactly reproducible cross-engine, unlike floor(log2(double)).
_HIST_EDGES = [8, 16, 32, 64, 128, 256, 512]


def token_histogram(docs: DataFrame) -> DataFrame:
    """Token-count histogram per language — the length-distribution
    audit run before choosing packing/truncation lengths. One scan:
    tokenize → integer bucket → grouped count. Output:
    (lang, bucket, doc_count, avg_tokens)."""
    n_toks = F.size(F.split(normalized_text(F.col("text")), " "))
    bucket: Column = F.lit(f"{_HIST_EDGES[-1] + 1}+")
    for edge in reversed(_HIST_EDGES):
        bucket = F.when(n_toks <= edge, F.lit(f"<={edge}")).otherwise(bucket)
    return (
        docs.select("lang", n_toks.alias("n_toks"), bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.avg("n_toks"), 4).alias("avg_tokens"),
        )
    )


def doc_chunks(docs: DataFrame, chunk_tokens: int = 64) -> DataFrame:
    """Fixed-size token chunking — the sequence-preprocessing step
    that splits documents into training-window pieces. One projection
    chain: tokenize → sequence(0, n_chunks-1) explode → slice; no
    shuffle at all (chunking is embarrassingly row-local), so it
    pipelines inside the scan. Chunk text is emitted as an md5 so the
    output stays narrow. Output: (doc_id, chunk_id, n_chunk_tokens,
    chunk_hash)."""
    toks = tokens(F.col(TEXT))
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(chunk_tokens))).cast("int")
    chunked = docs.select(
        F.col(DOC_ID),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * chunk_tokens + 1, chunk_tokens)
    return chunked.select(
        F.col(DOC_ID),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )


def ngram_hashes(t: Column, n: int) -> Column:
    """Distinct md5 hashes of all word n-grams of a token array —
    row-local (transform over a guarded sequence; Spark's sequence()
    infers a NEGATIVE step when start > stop, so short docs must map
    to an explicit empty array, not sequence(1, 0))."""
    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(starts, lambda i: F.md5(F.array_join(F.slice(t, i, n), " ")))
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: training documents that share any
    word n-gram with the eval/benchmark set, with the count of
    distinct shared n-grams. The standard contamination check (13-gram
    overlap in GPT-3/PaLM reports; n is a parameter here) expressed
    as a hash join on gram md5s: the eval side is DISTINCT gram
    hashes — benchmark suites are tiny relative to a training corpus,
    so it broadcasts and the corpus streams through map-side, never
    shuffling the training grams. Output: (doc_id, shared_ngrams),
    contaminated docs only."""
    grams = ngram_hashes(tokens(F.col(TEXT)), n)
    # gram construction (tokenize + n md5s per position) is the heavy
    # map work — spread the pre-explosion rows if the scan can't split
    train_g = ensure_parallelism(train).select(
        F.col(DOC_ID), F.explode(grams).alias("g")
    )
    eval_g = eval_docs.select(F.explode(grams).alias("g")).distinct()
    return (
        train_g.join(F.broadcast(eval_g), "g")
        .groupBy(DOC_ID)
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_distance: int = 2,
    prefix_len: int = 2,
) -> DataFrame:
    """Fuzzy vocabulary matching: distinct name pairs within a
    Levenshtein budget, blocked on a shared prefix — the standard
    recall/scale tradeoff for edit-distance joins (pairs differing in
    the first prefix_len characters are out of contract BY DESIGN;
    the join key space is |alphabet|^prefix_len, never all-pairs).
    Output: (name_a, name_b, distance)."""
    names = df.select(F.col(name_col).alias("name")).distinct()
    a = names.select(
        F.substring("name", 1, prefix_len).alias("blk"),
        F.col("name").alias("name_a"),
    )
    b = names.select(
        F.substring("name", 1, prefix_len).alias("blk"),
        F.col("name").alias("name_b"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def length_deciles(docs: DataFrame) -> DataFrame:
    """Decile assignment by document length via broadcast percentile
    thresholds — the scale-friendly alternative to a global-sort
    ntile: one exact-percentile aggregate (9 doubles) broadcast back,
    then a row-local comparison bucket. Docs with equal lengths land
    in the same decile by construction. Output:
    (doc_id, n_chars, decile)."""
    qs = docs.agg(
        F.expr(
            f"percentile({N_CHARS}, array({', '.join(str(i / 10) for i in range(1, 10))}))"
        ).alias("qs")
    )
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (F.col(N_CHARS) > F.element_at(F.col("qs"), i + 1)).cast("int")
    return docs.crossJoin(F.broadcast(qs)).select(
        "doc_id",
        F.col(N_CHARS).cast("long").alias("n_chars"),
        decile.cast("long").alias("decile"),
    )


# PII patterns, applied in order. Portable regex subset (character
# classes, bounded repeats, \b) that Java regex (Spark) and RE2
# (DuckDB, our oracle engine) interpret identically — no lookaround,
# no backreferences. SSN before phone so the 3-2-4 shape is claimed
# before the looser phone pattern sees the text.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b555-[0-9]{4}\b", "<PHONE>"),
]


def pii_redaction(docs: DataFrame) -> DataFrame:
    """PII scrubbing — detect and mask emails / SSNs / phone numbers,
    the standard pre-training privacy pass.

    Counts are taken on the original text, then the patterns are
    applied as chained regexp_replace (replace-all) in PII_PATTERNS
    order. The redacted text itself never leaves the executor: the
    output carries its md5 and length, which pins the transformation
    char-for-char against the oracle while keeping the result narrow.
    All expressions are JVM built-ins inside one projection — no
    shuffle, no Python — so the pass runs at scan speed at any scale.
    Output: (doc_id, n_emails, n_ssns, n_phones, pii_total,
    redacted_md5, redacted_len).
    """
    text = F.col(TEXT)
    counts = {
        f"n_{name}s": F.size(
            F.regexp_extract_all(text, F.lit(pat), F.lit(0))
        ).cast("long")
        for name, pat, _ in PII_PATTERNS
    }
    red = text
    for _, pat, tag in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tag)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        F.col(DOC_ID),
        *[c.alias(n) for n, c in counts.items()],
        total.alias("pii_total"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


def boilerplate_removal(docs: DataFrame, min_docs: int = 5) -> DataFrame:
    """C4-style corpus-wide boilerplate removal: a sentence (split on
    '. ') whose normalized form appears in >= min_docs distinct
    documents is boilerplate; every doc is rebuilt from its kept
    sentences in original order.

    Two shuffles total: one narrow (sentence-hash, doc_id) aggregate
    to find the boilerplate set, one per-doc rebuild. The boilerplate
    set is by construction small (only forms that repeat across many
    docs) so it broadcasts, and the rebuild groupBy collects kept
    sentences as (pos, sent) structs — array_sort restores order
    without a per-doc window. Cleaned text leaves the executor only
    as md5 + counts. Output: (doc_id, n_sentences, n_kept, n_dropped,
    cleaned_md5).
    """
    sents = docs.select(
        F.col(DOC_ID),
        F.posexplode(F.split(F.col(TEXT), r"\. ")).alias("pos", "sent"),
    ).withColumn("h", F.md5(F.lower(F.trim(F.col("sent")))))
    boiler = (
        sents.groupBy("h")
        .agg(F.countDistinct(DOC_ID).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(True).alias("is_b"))
    )
    # no broadcast hint: the boilerplate relation's size is data-
    # dependent (every sentence form repeated across >= min_docs docs
    # — millions of rows on a web corpus), so forcing a broadcast
    # gambles executor memory on corpus shape. AQE sizes the join at
    # runtime: small boiler sets still broadcast, huge ones shuffle.
    marked = sents.join(boiler, "h", "left")
    kept_struct = F.when(
        F.col("is_b").isNull(), F.struct(F.col("pos"), F.col("sent"))
    )
    return marked.groupBy(DOC_ID).agg(
        F.count(F.lit(1)).alias("n_sentences"),
        (F.count(F.lit(1)) - F.count("is_b")).alias("n_kept"),
        F.count("is_b").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.getField("sent"),
                ),
                ". ",
            )
        ).alias("cleaned_md5"),
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document token-distribution entropy in bits — the cheap
    perplexity proxy used as a quality/repetition signal (low entropy
    = repetitive or templated text). H = -Σ (c/n)·log2(c/n) over the
    document's token counts.

    One explode → (doc, token) counts → per-doc entropy aggregate;
    two shuffles of (doc_id, token-hash)-sized rows. Emitted as
    floor-milli-bits BIGINT: log2 is correctly-rounded on both
    engines only per-call, and the cross-token sum order differs, so
    exact doubles would hash-mismatch at the ulp; integers survive.
    Output: (doc_id, n_tokens, entropy_millibits)."""
    toks = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.explode(tokens(F.col(TEXT))).alias("tok"),
    )
    tf = toks.groupBy(DOC_ID, "tok").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy(DOC_ID).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.floor(
            F.lit(1000.0)
            * (
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
            )
        ).cast("long").alias("entropy_millibits"),
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """Within-document repeated-sentence removal: keep the FIRST
    occurrence of each distinct sentence in a document, drop the
    repeats, and emit the rebuilt text as an md5 pin. The per-document
    complement of boilerplate_removal (which drops sentences repeated
    ACROSS documents) — the standard repetition filter applied before
    training on scraped text.

    Per-doc state only: min(pos) per (doc, sentence), then an ordered
    rebuild whose collect is bounded by the document's own sentence
    count — no corpus-wide relation, no broadcast, scales with the
    scan. Output: (doc_id, kept_sentences, removed_sentences,
    cleaned_md5).
    """
    sents = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.size(F.split(F.col(TEXT), r"\. ")).alias("n_total"),
        F.posexplode(F.split(F.col(TEXT), r"\. ")).alias("pos", "sent"),
    )
    first = sents.groupBy(DOC_ID, "sent").agg(
        F.min("pos").alias("pos"), F.max("n_total").alias("n_total")
    )
    return first.groupBy(DOC_ID).agg(
        F.count(F.lit(1)).cast("long").alias("kept_sentences"),
        (F.max("n_total") - F.count(F.lit(1)))
        .cast("long")
        .alias("removed_sentences"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
                ". ",
            )
        ).alias("cleaned_md5"),
    )


def _doc_sum(
    rows: DataFrame,
    scored: DataFrame,
    key: str,
    id_col: str,
    score: str,
    n_name: str,
    sum_name: str,
) -> DataFrame:
    """The per-document score sum every corpus-LM scorer ends in:
    occurrence `rows` join the per-`key` integer `score` of `scored`
    (AQE broadcasts the vocabulary side when it fits), then one hash
    aggregate on the id counts the occurrences and sums the scores as
    exact integers. Output: (id_col, n_name, sum_name). The average
    stays with the caller: the scorers round it differently."""
    return (
        rows.join(scored, key)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.sum(score).cast("long").alias(sum_name),
        )
    )


def _bigram_table(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The corpus bigram statistics, built once for every bigram
    scorer: (rows, table, left, right, total).

      rows   (id_col, gram) occurrences off the codegen shingle path
             (dedup.word_ngram_rows, n=2) — no shuffle, no sort;
      table  (gram, c2, w1, w2): c(w1 w2) per distinct bigram, pinned;
      left   (w1, c1w, n1p_w1): Σ c2 and the distinct bigrams per w1;
      right  (w2, c2w, n1p_w2): Σ c2 and the distinct bigrams per w2;
      total  one row (n_total, ntot): Σ c2 and the distinct bigrams.

    Every marginal is an exact re-aggregation of the vocab²-bounded
    table, so the corpus gram pass runs once however many marginals a
    caller joins (Spark reuses no exchange across join branches of
    one plan); Catalyst prunes the aggregates a caller never reads.
    Docs with fewer than two tokens emit no bigrams.
    """
    rows = word_ngram_rows(docs, text_col, id_col, n=2)
    # get() instead of [i]: Catalyst may move this projection below
    # the shingle source's last-position filter, and under ANSI an
    # indexed access explodes on the one-token gram a filtered-out
    # row still carries (the inferred-predicate gotcha); get()
    # returns NULL there and the row never survives anyway
    table = materialize(
        rows.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c2"))
        .select(
            "gram",
            "c2",
            F.expr("get(split(gram, ' '), 0)").alias("w1"),
            F.expr("get(split(gram, ' '), 1)").alias("w2"),
        )
    )
    left = table.groupBy("w1").agg(
        F.sum("c2").alias("c1w"), F.count(F.lit(1)).alias("n1p_w1")
    )
    right = table.groupBy("w2").agg(
        F.sum("c2").alias("c2w"), F.count(F.lit(1)).alias("n1p_w2")
    )
    total = table.agg(
        F.sum("c2").alias("n_total"), F.count(F.lit(1)).alias("ntot")
    )
    return rows, table, left, right, total


# Interpolated Kneser-Ney P(w2|w1) in ppm of an observed bigram, over
# the _bigram_table columns joined on one row (bigram_kneser_ney
# derives the integer form).
_KN_SEEN_PPM = (
    "CAST(1000000 * (4 * c2 - 3) DIV (4 * c1w)"
    " + CAST(3000000 AS DECIMAL(38,0)) * n1p_w1 * n1p_w2"
    "   DIV (CAST(4 AS DECIMAL(38,0)) * c1w * ntot)"
    " AS BIGINT)"
)


def _token_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(token, cnt): the corpus's non-empty token counts — one
    tokenize+explode scan into a token hash aggregate (map-side
    partial combine absorbs the heavy hitters)."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _zipf_head(counts: DataFrame, k: int) -> DataFrame:
    """(rank, token, cnt): the Zipf head, the top-k rows of
    `counts` by (cnt desc, token asc) — TakeOrderedAndProject, never
    a vocabulary sort — ranked by a row_number over the k
    survivors."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
        .select(
            F.row_number().over(w).cast("long").alias("rank"), "token", "cnt"
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram language-model negative log-likelihood per document —
    the classic cheap perplexity proxy for quality filtering: docs
    whose tokens are globally rare (high avg NLL) are gibberish/noise
    candidates; docs of only stop-words (low avg NLL) are boilerplate
    candidates.

    Two aggregation passes: corpus unigram counts (vocabulary-sized
    relation), the corpus total carried back as a broadcast single-row
    scalar, then tokens re-join the scored vocabulary and sum per
    document (_doc_sum). Per-token NLL is floor-quantized to
    micro-nats BEFORE summation so the per-doc sums are exact integer
    arithmetic — immune to float summation order on both engines.
    Output: (doc_id, n_tokens, sum_nll_micro, avg_nll_micro).
    """
    toks = ensure_parallelism(docs).select(
        F.col(DOC_ID), F.explode(tokens(F.col(TEXT))).alias("term")
    )
    # deliberately NOT checkpointed: the scalar-total branch replays
    # one tokenize+count pass, which parallel stages recompute for
    # free on an idle box while a checkpoint barrier costs a
    # consistent +10-36% here (three A/B pairs); on a cluster where
    # the tokenize pass is the wall, pin `vocab` first
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    scored = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(-F.log(F.col("cnt") / F.col("n_total")) * F.lit(1_000_000.0))
        .cast("long")
        .alias("nll_micro"),
    )
    return _doc_sum(
        toks, scored, "term", DOC_ID, "nll_micro", "n_tokens", "sum_nll_micro"
    ).withColumn(
        "avg_nll_micro",
        (F.col("sum_nll_micro") / F.col("n_tokens")).cast("long"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram-LM negative log-likelihood per document — the
    conditional upgrade of unigram_logprob: per adjacent token pair,
    -ln p(w2 | w1) with p MLE-estimated from the corpus itself
    (c(w1 w2) / c(w1 ·)). Catches locally-incoherent text (word-salad
    with plausible unigram stats) that the unigram proxy misses.

    Bigram occurrences, the pinned bigram counts and the left-context
    counts c(w1 ·) = Σ c2 are the shared _bigram_table; per-position
    NLL is floor-quantized to micro-nats before the exact integer
    per-doc sums (_doc_sum). Docs with fewer than two tokens emit no
    bigrams and are absent from the output (same contract as the
    shingle source). Output: (doc_id, n_bigrams, sum_nll_micro,
    avg_nll_micro).
    """
    bg, table, left, _, _ = _bigram_table(docs, TEXT, DOC_ID)
    scored = table.join(left, "w1").select(
        "gram",
        F.floor(
            -F.log(F.col("c2").cast("double") / F.col("c1w"))
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return _doc_sum(
        bg, scored, "gram", DOC_ID, "nll_micro", "n_bigrams", "sum_nll_micro"
    ).withColumn(
        "avg_nll_micro",
        (F.col("sum_nll_micro") / F.col("n_bigrams")).cast("long"),
    )


def dsir_logratio(docs: DataFrame, target_source: str = "src0") -> DataFrame:
    """DSIR-style importance log-ratio per document (Xie et al.,
    Data Selection for LMs via Importance Resampling): score each doc
    by Σ_tok [ln p_target(tok) − ln p_rest(tok)] under Laplace-
    smoothed unigram LMs, where the target distribution is the docs
    of `target_source` and the proposal is everything else. High
    scores = docs that look like the target domain; sampling
    ∝ exp(score) is the DSIR resampling step (the score table is the
    deliverable — the sampler is doc_weighted_sample).

    Same exactness contract as unigram_logprob: the per-term ratio
    ln((c_t+1)/(N_t+V)) − ln((c_r+1)/(N_r+V)) is a fixed-shape
    double expression (identical literal order both engines), floor-
    quantized to micro-nats per TERM, then only integer sums leave
    the per-doc aggregate — no order-dependent float summation.

    Two hash aggregates (conditional counts in one vocabulary pass +
    three broadcast scalars), one re-join of tokens to the scored
    vocabulary (_doc_sum). Output: (doc_id, n_tokens, sum_lr_micro,
    avg_lr_micro).
    """
    toks = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        (F.col(SOURCE) == target_source).alias("__is_t"),
        F.explode(tokens(F.col(TEXT))).alias("term"),
    )
    # deliberately NOT checkpointed (as in unigram_logprob: over two
    # A/B pairs a barrier here read +10-21% while the replayed
    # tokenize+count branch recomputes in parallel for free locally)
    vocab = toks.groupBy("term").agg(
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__is_t"), 0).otherwise(1)).alias("cr"),
    )
    totals = vocab.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cr").cast("double").alias("nr"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    scored = vocab.crossJoin(F.broadcast(totals)).select(
        "term",
        F.floor(
            (
                F.log((F.col("ct") + 1).cast("double") / (F.col("nt") + F.col("v")))
                - F.log((F.col("cr") + 1).cast("double") / (F.col("nr") + F.col("v")))
            )
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return _doc_sum(
        toks, scored, "term", DOC_ID, "lr_micro", "n_tokens", "sum_lr_micro"
    ).withColumn(
        "avg_lr_micro",
        F.floor(
            F.col("sum_lr_micro").cast("double") / F.col("n_tokens")
        ).cast("long"),
    )


def vocab_growth_curve(docs: DataFrame, n_shards: int = 16) -> DataFrame:
    """Heaps-law vocabulary-growth audit across curriculum shards:
    walk the corpus in id order, cut it into n_shards equal-width id
    ranges (the sequential-ingestion curriculum shape), and report,
    per shard, the token volume and how many vocabulary types appear
    there for the FIRST time. A healthy corpus keeps discovering
    types sublinearly (Heaps exponent < 1); a flat curve means
    saturation/duplication, a linear one means noise (OCR garbage
    mints unlimited new types).

    Distributed shape: the shard id is exact integer arithmetic
    (id·n DIV (max_id+1), max as a broadcast scalar); first-
    occurrence shard is min(shard) per term — one hash aggregate on
    the term key; the per-shard rollup and the cumulative sum act on
    ≤ n_shards rows (window over a constant-size relation, not the
    corpus). Output: (shard_id, n_tokens, new_types, cum_types).
    """
    from pyspark.sql import Window

    mx = docs.agg(F.max(F.col(DOC_ID)).alias("__mx"))
    toks = (
        ensure_parallelism(docs)
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"{DOC_ID} * {int(n_shards)} DIV (__mx + 1)").alias(
                "shard_id"
            ),
            F.explode(tokens(F.col(TEXT))).alias("term"),
        )
    )
    # ONE pass over the token explode into a (term, shard) count; two
    # consumers (per-shard token volume, first-occurrence shard)
    counts = materialize(
        toks.groupBy("term", "shard_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    per_shard_tokens = counts.groupBy("shard_id").agg(
        F.sum("__c").cast("long").alias("n_tokens")
    )
    first_seen = counts.groupBy("term").agg(
        F.min("shard_id").alias("shard_id")
    )
    new_types = first_seen.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    w = Window.orderBy("shard_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_shard_tokens.join(new_types, "shard_id", "left")
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0))
            .cast("long")
            .alias("new_types"),
        )
        .withColumn(
            "cum_types", F.sum("new_types").over(w).cast("long")
        )
    )


# Fixed quality-classifier weights (the fasttext-style keep/drop
# filter shape used by DCLM/FineWeb-class pipelines, with literal
# weights instead of a trained model — the Spark-side plumbing,
# scoring math, and decision boundary are the real artifact here).
# Features are the quality_exprs ratios; z is a plain fixed-order
# linear combination so the decision (z >= 0) is EXACT across
# engines — no transcendental on the decision path.
CLASSIFIER_WEIGHTS = {
    "bias": -2.3,
    "mean_token_len": -0.05,   # very long "tokens" = markup/noise
    "type_token_ratio": 1.2,   # vocabulary diversity
    "stopword_ratio": 4.0,     # natural-language prose signal
    "alpha_ratio": 2.5,        # penalize symbol soup
    "dup_trigram_frac": -3.0,  # repetition penalty
}


def quality_classifier_score(docs: DataFrame) -> DataFrame:
    """Linear quality-classifier scoring over the heuristic feature
    vector: z = w·x + b, keep = (z >= 0). One zero-shuffle projection
    per doc; z is emitted floor-quantized to micro-units (pure
    fixed-order double arithmetic over exact ratio features — no ln/
    exp on either the score or the decision, so the output is exact
    on any IEEE engine). Output: (doc_id, z_micro, keep)."""
    z = _classifier_z(TEXT)
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.floor(z * F.lit(1_000_000.0)).cast("long").alias("z_micro"),
        (z >= 0).alias("keep"),
    )


def _classifier_z(text_col: str) -> Column:
    """The linear classifier's raw score column z = w·x + b (shared
    by quality_classifier_score and classifier_auc_calibration —
    pure expression extraction, plans identical)."""
    exprs = quality_exprs(text_col)
    dup_frac = _dup_trigram_frac(tokens(F.col(text_col)))
    w = CLASSIFIER_WEIGHTS
    return (
        F.lit(w["bias"])
        + F.lit(w["mean_token_len"]) * exprs["mean_token_len"]
        + F.lit(w["type_token_ratio"]) * exprs["type_token_ratio"]
        + F.lit(w["stopword_ratio"]) * exprs["stopword_ratio"]
        + F.lit(w["alpha_ratio"]) * exprs["alpha_ratio"]
        + F.lit(w["dup_trigram_frac"]) * dup_frac
    )


def classifier_auc_calibration(docs: DataFrame) -> DataFrame:
    """Exact evaluation of the linear quality classifier against the
    production curation gate (the corpus_curation / funnel stage-1
    reference label): ROC-AUC via the tie-corrected Mann-Whitney
    rank-sum, plus a fixed-grid calibration table of predicted vs
    empirical keep rate — the two numbers that say whether the score
    RANKS gate-passing docs above failing ones and whether its
    probabilities mean anything.

    Exactness and scale come from the user_activity_gini trick: the
    rank-sum runs over the SCORE HISTOGRAM (one row per distinct
    z_micro), never a per-doc global sort. With per-value positive/
    negative counts (n1, n0) and the exclusive below-prefix cum0:
      2·U = Σ_z n1·(2·cum0 + n0)      (ties contribute the half)
      auc_ppm = ⌊10⁶·2U / (2·P·N)⌋
    all in DECIMAL(38,0) (P·N ~ 10²⁴ at planetary scale). The prefix
    runs through shuffling.grouped_prefix_sum — range shards +
    broadcast offsets, no single-task window, so a near-continuous
    score (|distinct z| → n_docs) cannot funnel the histogram into
    one task.

    Calibration: predicted keep probability p = σ(z) is quantized
    ONCE per doc (p_micro = ⌊10⁶/(1+e^(−z_micro/10⁶))⌋ — a
    fixed-shape double expression over the already-quantized integer
    score, the doc_kn_nll cross-engine idiom), then binned on the
    fixed p-grid (bin = min(N_BINS−1, p_micro·N_BINS DIV 10⁶), the
    PSI grid shape); per bin the mean prediction and the empirical
    gate rate are exact integer DIVs.

    Shape: ONE corpus scan into a 3-column per-doc projection
    (checkpointed — two aggregate consumers), a |distinct z|
    histogram aggregate, a |bins| aggregate, and a 1-row broadcast of
    the AUC onto the bin rows. Output per non-empty bin: (bin_id,
    n_docs, n_pos, mean_pred_ppm, pos_rate_ppm, calib_gap_ppm,
    auc_ppm, n_pos_total, n_neg_total); auc NULL when either class
    is absent (AUC undefined).
    """
    per_doc = materialize(
        _scored_vs_gate(docs, TEXT)
        .select(
            "z_micro",
            "y",
            F.floor(
                F.lit(1_000_000.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.col("z_micro").cast("double") / F.lit(1e6)))
                )
            )
            .cast("long")
            .alias("p_micro"),
        )
    )
    auc = exact_auc(per_doc, score_col="z_micro", label_col="y")
    bins = (
        per_doc.groupBy(
            F.least(
                F.lit(N_BINS - 1),
                F.expr(f"p_micro * {N_BINS} DIV 1000000"),
            )
            .cast("long")
            .alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            # DECIMAL numerators: 10^6-scaled sums pass int64 only to
            # ~9e12 docs/bin — too tight at 100 TB
            F.sum(F.col("p_micro").cast("decimal(38,0)")).alias("__sp"),
        )
        .select(
            "bin_id",
            "n_docs",
            "n_pos",
            F.expr("__sp DIV n_docs").cast("long").alias("mean_pred_ppm"),
            F.expr(
                "CAST(1000000 AS DECIMAL(38,0)) * n_pos DIV n_docs"
            )
            .cast("long")
            .alias("pos_rate_ppm"),
            F.expr(
                "__sp DIV n_docs"
                " - CAST(1000000 AS DECIMAL(38,0)) * n_pos DIV n_docs"
            )
            .cast("long")
            .alias("calib_gap_ppm"),
        )
    )
    return bins.crossJoin(F.broadcast(auc))


def _scored_vs_gate(docs: DataFrame, text_col: str) -> DataFrame:
    """Per-doc (z_micro, y) projection: the linear classifier's
    quantized score next to the production curation-gate label — the
    shared input of classifier_auc_calibration and
    classifier_pr_curve (one corpus scan each; pure extraction)."""
    q = quality_exprs(text_col)
    best = language_best(text_col)
    z = _classifier_z(text_col)
    gate = (
        (q["type_token_ratio"] >= 0.4)
        & (q["alpha_ratio"] >= 0.6)
        & (best["hits"] > 0)
    )
    return ensure_parallelism(docs).select(
        F.floor(z * F.lit(1_000_000.0)).cast("long").alias("z_micro"),
        gate.cast("long").alias("y"),
    )


def classifier_pr_curve(docs: DataFrame) -> DataFrame:
    """Exact precision-recall summary of the linear quality
    classifier against the curation gate — the decision-threshold
    companion of classifier_auc_calibration (AUC says the score
    ranks; this says WHERE to cut): the classic 11-point
    interpolated-precision curve plus the exact best-F1 operating
    point.

    All computation rides the SCORE HISTOGRAM (one row per distinct
    z_micro — never a per-doc sort): inclusive descending cumulatives
    give (TP, FP, FN) at every candidate threshold via the
    range-sharded prefix idiom; the 11-point grid joins the histogram
    on the INTEGER-EXACT recall test 10·TP ≥ r_idx·P_total (no float
    recall compare) and takes max precision per grid point
    (interpolated precision, Manning et al. IR eval); best-F1 is the
    struct-max argmax of floor-ppm F1 with higher-threshold
    tie-break, broadcast onto the grid rows.

    Output (11 rows; EMPTY when the corpus has no gate-positives —
    recall is undefined): (recall_grid_ppm, interp_precision_ppm,
    best_f1_ppm, best_threshold_z, best_tp, best_fp, best_fn).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    hist = materialize(
        _scored_vs_gate(docs, TEXT)
        .groupBy("z_micro")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n1"),
        )
        .withColumn("__negs", -F.col("z_micro"))  # prefix reads it 3x
    )
    pre = grouped_prefix_sum(hist, [], ["__negs"], ["n1", "n"], ["c1", "cn"])
    rows = materialize(
        pre.filter(F.col("c1_total") > 0)
        .select(
            "z_micro",
            F.col("c1_total").alias("p_total"),
            (F.col("c1") + F.col("n1")).cast("long").alias("tp"),
            (F.col("cn") + F.col("n") - F.col("c1") - F.col("n1"))
            .cast("long")
            .alias("fp"),
        )
        .withColumn("fn", (F.col("p_total") - F.col("tp")).cast("long"))
        .withColumn(
            "prec_ppm",
            F.expr("1000000 * tp DIV (tp + fp)").cast("long"),
        )
        .withColumn(
            "f1_ppm",
            F.expr("2000000 * tp DIV (2 * tp + fp + fn)").cast("long"),
        )  # grid join + argmax consumers
    )
    best = rows.agg(
        F.max(
            F.struct(
                F.col("f1_ppm"),
                F.col("z_micro"),
                F.col("tp"),
                F.col("fp"),
                F.col("fn"),
            )
        ).alias("b")
    ).select(
        F.col("b.f1_ppm").alias("best_f1_ppm"),
        F.col("b.z_micro").alias("best_threshold_z"),
        F.col("b.tp").alias("best_tp"),
        F.col("b.fp").alias("best_fp"),
        F.col("b.fn").alias("best_fn"),
    )
    grid = docs.sparkSession.range(0, 11).select(
        F.col("id").cast("long").alias("r_idx")
    )
    interp = (
        rows.crossJoin(F.broadcast(grid))
        .filter(F.col("tp") * 10 >= F.col("r_idx") * F.col("p_total"))
        .groupBy("r_idx")
        .agg(F.max("prec_ppm").cast("long").alias("interp_precision_ppm"))
        .select(
            (F.col("r_idx") * 100_000).cast("long").alias(
                "recall_grid_ppm"
            ),
            "interp_precision_ppm",
        )
    )
    return interp.crossJoin(F.broadcast(best))


def exact_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
) -> DataFrame:
    """Exact tie-corrected ROC-AUC of an integer score against a 0/1
    label via the Mann-Whitney rank-sum over the SCORE HISTOGRAM —
    see classifier_auc_calibration for the derivation and scale
    argument (one row per distinct score, range-sharded exclusive
    prefix, DECIMAL(38,0) moments). Returns one row:
    (auc_ppm, n_pos_total, n_neg_total); auc_ppm NULL when either
    class is absent."""
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    hist = materialize(  # the prefix reads it three times
        scored.groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(label_col).cast("long").alias("n1"),
        )
        .withColumn("n0", F.col("n") - F.col("n1"))
    )
    pre = grouped_prefix_sum(hist, [], ["__s"], ["n0"], ["cum0"])
    return pre.agg(
        F.sum("n1").cast("long").alias("n_pos_total"),
        F.sum("n0").cast("long").alias("n_neg_total"),
        F.sum(
            F.col("n1").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cum0") + F.col("n0"))
        ).alias("__u2"),
    ).select(
        F.expr(
            "CASE WHEN n_pos_total = 0 OR n_neg_total = 0 THEN NULL "
            "ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * __u2 "
            "DIV (CAST(2 AS DECIMAL(38,0)) * n_pos_total * n_neg_total) "
            "AS BIGINT) END"
        ).alias("auc_ppm"),
        "n_pos_total",
        "n_neg_total",
    )


def _lr_feature_rows(
    docs: DataFrame,
    text_col: str,
    carry: tuple[tuple[str, Column], ...] = (),
) -> DataFrame:
    """Per-doc micro-quantized feature vector + curation-gate label
    for classifier training: the same five heuristic features the
    hand-set linear classifier consumes (_classifier_z) and the same
    gate label the evaluators rank against (_scored_vs_gate), floor-
    quantized once to integer micro-units so every downstream step is
    integer-exact. One scan, zero shuffle.
    `carry` appends extra (alias, Column) projections to the SAME
    scan — classifier_apply_trained rides (source, handset keep)
    through it; the default () emits exactly the training relation.
    Output: (x1..x5 micro longs, y 0/1, *carry)."""
    q = quality_exprs(text_col)
    best = language_best(text_col)
    dup_frac = _dup_trigram_frac(tokens(F.col(text_col)))
    gate = (
        (q["type_token_ratio"] >= 0.4)
        & (q["alpha_ratio"] >= 0.6)
        & (best["hits"] > 0)
    )
    feats = [
        q["mean_token_len"],
        q["type_token_ratio"],
        q["stopword_ratio"],
        q["alpha_ratio"],
        dup_frac,
    ]
    return ensure_parallelism(docs).select(
        *[
            F.floor(c * F.lit(1_000_000.0)).cast("long").alias(f"x{j}")
            for j, c in enumerate(feats, start=1)
        ],
        gate.cast("long").alias("y"),
        *[c.alias(nm) for nm, c in carry],
    )


def _signed_div(num: str, den: str) -> str:
    """Sign-aware integral division as a SQL fragment: Spark DIV
    truncates toward zero while DuckDB // floors, so negative
    numerators are divided as -((-n) DIV d) — truncation semantics on
    both engines (the pca_power idiom)."""
    return (
        f"(CASE WHEN {num} < 0 THEN -((-({num})) DIV ({den}))"
        f" ELSE ({num}) DIV ({den}) END)"
    )


LR_WEIGHT_COLS = (
    "w_bias_micro",
    "w_mtl_micro",
    "w_ttr_micro",
    "w_stop_micro",
    "w_alpha_micro",
    "w_dup_micro",
)


def _lr_standardized(
    docs: DataFrame,
    text_col: str,
    carry: tuple[tuple[str, Column], ...] = (),
) -> DataFrame:
    """Standardized integer feature relation for LR training AND for
    re-applying trained weights: per-feature integer moments (mu =
    Sx DIV n; var = (n·Sxx − Sx²) DIV n²; sigma = max(1, ⌊√var⌋) —
    IEEE sqrt is correctly rounded, so the floor is engine-identical)
    from ONE aggregate, broadcast onto the rows; standardized feature
    s = ((x − mu)·10⁶) DIV sigma (sign-aware DIV — x−mu goes
    negative); x0 is the constant bias feature at 10⁶ so one update
    rule covers all six weights. Materialized: training consumes
    it k+1 times and nothing shares exchanges across branches.
    `carry` names ride the scan untouched (see _lr_feature_rows) —
    the moments aggregate and standardization ignore them.
    Output: (x0, sx1..sx5 all DECIMAL(38,0), y, *carry)."""
    raw = materialize(_lr_feature_rows(docs, text_col, carry))
    xs = [f"x{j}" for j in range(1, 6)]
    stats = raw.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.col(x).cast("decimal(38,0)")).alias(f"s_{x}")
            for x in xs
        ],
        *[
            F.sum(
                F.col(x).cast("decimal(38,0)")
                * F.col(x).cast("decimal(38,0)")
            ).alias(f"q_{x}")
            for x in xs
        ],
    ).select(
        "n",
        *[
            F.expr(f"s_{x} DIV CAST(n AS DECIMAL(38,0))").alias(f"mu_{x}")
            for x in xs
        ],
        *[
            F.expr(
                f"GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(SQRT(CAST("
                f"(CAST(n AS DECIMAL(38,0)) * q_{x} - s_{x} * s_{x})"
                f" DIV (CAST(n AS DECIMAL(38,0)) * n) AS DOUBLE)))"
                f" AS BIGINT))"
            ).alias(f"sig_{x}")
            for x in xs
        ],
    )
    return materialize(
        raw.crossJoin(F.broadcast(stats))
        .select(
            F.lit(1_000_000).cast("decimal(38,0)").alias("x0"),
            *[
                F.expr(
                    "CAST("
                    + _signed_div(
                        f"(CAST({x} AS DECIMAL(38,0)) - mu_{x}) * 1000000",
                        f"sig_{x}",
                    )
                    + " AS DECIMAL(38,0))"
                ).alias(f"sx{j}")
                for j, x in enumerate(xs, start=1)
            ],
            F.col("y"),
            *[F.col(nm) for nm, _ in carry],
        )
    )


def classifier_train_lr(docs: DataFrame, k_steps: int = 12) -> DataFrame:
    """Logistic-regression TRAINING of the quality keep/drop
    classifier against the production curation gate — closes the
    classifier loop: the engine scores (quality_classifier_score),
    evaluates (classifier_auc_calibration / classifier_pr_curve), and
    now learns the weights instead of shipping hand-set ones. k fixed,
    unrolled full-batch gradient-descent steps over the bounded
    6-feature vector (bias + the five heuristic quality features),
    standardized per-feature so the raw scales (mean token length
    ~5e6 micro vs ratios ~1e6) don't dominate the gradient.

    Integer-exact end to end (the near_dup_pagerank unrolled-rounds
    shape, oracle-able as k chained CTEs):
    - features floor-quantize once to micro; standardization uses
      integer moments (mu = Sx DIV n; var = (n·Sxx − Sx²) DIV n²;
      sigma = max(1, ⌊√var⌋) — IEEE sqrt is correctly rounded, so the
      floor is engine-identical, unlike exp/ln which only appear in
      the proven fixed-shape sigmoid idiom below);
    - each step computes z_micro = ⌊(w·x)/10⁶⌋ (sign-aware DIV),
      p_micro = ⌊10⁶·σ(z_micro/10⁶)⌋ (the classifier_auc_calibration
      cross-engine sigmoid), residual r = p − 10⁶·y, and the gradient
      sums g_j = Σ r·x_j in DECIMAL(38,0);
    - update w_j ← w_j − (LR_PPM·g_j) DIV (n·10¹²) — all weights stay
      integer micro, so the trajectory hashes identically in DuckDB.

    Scale shape: ONE corpus scan into a 6-column integer projection,
    materialized (k+1 aggregate consumers — without truncation
    each step replays the corpus scan, no cross-branch reuse); one
    1-row moments aggregate broadcast onto the rows; then k map-side-
    combined gradient aggregates, each a full pass over the narrow
    checkpointed relation with the 1-row weight state broadcast-cross-
    joined (zero driver round-trips — weights never leave the JVM).
    k·(scan of an 8-byte×6 relation) is the same budget as
    unigram_lm_train's EM rounds.

    Output, one row per step 0..k (step 0 = the zero init):
    (step, w_bias_micro, w_mtl_micro, w_ttr_micro, w_stop_micro,
    w_alpha_micro, w_dup_micro) — weights in micro units over the
    STANDARDIZED features (_lr_standardized re-derives the feature
    relation to score with them).
    """
    feat = _lr_standardized(docs, TEXT)
    trajectory = _lr_gd_trajectory(feat, k_steps, LR_PPM)
    spark = docs.sparkSession
    # literal weight table via inline() — stays JVM-side (a
    # createDataFrame of Python rows would ship through a pickled
    # Python RDD scan, the boundary every operator here avoids)
    structs = ", ".join(
        "named_struct('step', {t}L, {ws})".format(
            t=t,
            ws=", ".join(
                f"'{c}', {w}L" for c, w in zip(LR_WEIGHT_COLS, ws)
            ),
        )
        for t, ws in trajectory
    )
    out = spark.range(1).select(
        F.expr(f"inline(array({structs}))")
    )
    return out.orderBy("step")


def _lr_gd_trajectory(
    feat: DataFrame, k_steps: int, lr_ppm: int
) -> list[tuple[int, list[int]]]:
    """The gradient-descent loop of classifier_train_lr: k map-side-
    combined gradient aggregates over `feat`, each with the CURRENT
    weight state inlined as DECIMAL(38,0) literals and its 7-scalar
    result (n, g0..g5) collected — a bounded decision-scalar collect
    per step (the compaction-sink discipline), after which the weight
    update is exact Python integer arithmetic mirroring the SQL
    _signed_div. Returns the k+1 states [(step, [w0..w5])], step 0 =
    the zero init; classifier_apply_trained scores with the final
    state inlined.

    This replaced the broadcast-crossJoin formulation (the weight
    state as a 1-row broadcast riding through the aggregate as
    constant-column mins): per step that paid a BroadcastExchange +
    BroadcastNestedLoopJoin + a lazy-checkpoint barrier purely to
    keep 6 integers inside the JVM — measured 5.57 → 4.08 s (−27%)
    on the sf0.1 training entry with a bit-identical trajectory. At
    cluster scale the per-step cost is the gradient aggregate either
    way; 7 scalars per step to the driver is noise.
    """
    fcols = ["x0"] + [f"sx{j}" for j in range(1, 6)]
    w = [0] * 6
    trajectory = [(0, list(w))]
    den = None
    for t in range(1, k_steps + 1):
        zsum = " + ".join(
            f"CAST('{w[j]}' AS DECIMAL(38,0)) * {x}"
            for j, x in enumerate(fcols)
        )
        p_expr = (
            f"CAST(FLOOR(1000000.0 / (1.0 + EXP(-(CAST("
            f"{_signed_div(f'({zsum})', '1000000')}"
            f" AS DOUBLE) / 1000000.0)))) AS BIGINT)"
        )
        g = (
            feat.select(F.expr(p_expr).alias("p"), "y", *fcols)
            .select(
                (F.col("p") - F.lit(1_000_000) * F.col("y")).alias("r"),
                *fcols,
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                *[
                    F.sum(F.col("r").cast("decimal(38,0)") * F.col(x))
                    .cast("decimal(38,0)")
                    .alias(f"g{j}")
                    for j, x in enumerate(fcols)
                ],
            )
            .collect()[0]
        )
        if den is None:
            den = int(g["n"]) * 10**12
        new_w = []
        for j in range(6):
            num = int(g[f"g{j}"]) * lr_ppm
            # Python's // floors; Spark's DIV truncates toward zero —
            # negate-divide-negate for negative numerators (the
            # _signed_div contract, bit-identical to the SQL form)
            step = -((-num) // den) if num < 0 else num // den
            new_w.append(w[j] - step)
        w = new_w
        trajectory.append((t, list(w)))
    return trajectory


def classifier_apply_trained(docs: DataFrame) -> DataFrame:
    """Advisor-EXECUTING pattern #8 — DEPLOY the trained classifier:
    classifier_train_lr learns the keep/drop weights; this scores
    every document with the step-k trained weights and reports, per
    source, the decision delta against the production hand-set gate
    (quality_classifier_score's z ≥ 0 rule) and each rule's agreement
    with the curation-gate label the trainer fit against — the
    relation a curation owner reads before swapping the gate over.

    keep_trained is the exact integer sign test Σ w_j·x_j ≥ 0 over
    the standardized features (≡ p ≥ ½ — no sigmoid, no floats);
    keep_handset is _classifier_z ≥ 0, computed in the SAME scan the
    feature rows come from (a `carry` column through
    _lr_feature_rows), so deployment adds zero extra corpus scans.

    Scale shape: classifier_train_lr's exactly (ONE corpus scan into
    the checkpointed integer relation, k gradient aggregates with
    1-row broadcast weight states) plus ONE more pass over the
    checkpoint to score — zero driver round-trips; the per-source
    aggregate is #sources-bounded.

    Output per source: (source, n_docs, n_keep_trained,
    n_keep_handset, n_flip_to_keep, n_flip_to_drop, n_agree_trained,
    n_agree_handset) — flips are docs where the trained rule reverses
    the hand-set decision; agreement is with the gate label y.
    """
    feat = _lr_standardized(
        docs,
        TEXT,
        carry=(
            ("source", F.col("source")),
            ("kh", _classifier_z(TEXT) >= 0),
        ),
    )
    fcols = ["x0"] + [f"sx{j}" for j in range(1, 6)]
    trajectory = _lr_gd_trajectory(
        feat.select(*fcols, "y"), 12, LR_PPM
    )
    # final weights inlined as decimal literals (the trajectory's own
    # idiom) — the scoring pass needs no broadcast join at all
    w_final = trajectory[-1][1]
    zsum_final = " + ".join(
        f"CAST('{w_final[j]}' AS DECIMAL(38,0)) * {x}"
        for j, x in enumerate(fcols)
    )
    scored = feat.select(
        "source",
        "kh",
        (F.col("y") == 1).alias("yb"),
        (F.expr(zsum_final) >= 0).alias("kt"),
    )

    def _n(cond, name):
        return F.sum(cond.cast("long")).cast("long").alias(name)

    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            _n(F.col("kt"), "n_keep_trained"),
            _n(F.col("kh"), "n_keep_handset"),
            _n(F.col("kt") & ~F.col("kh"), "n_flip_to_keep"),
            _n(~F.col("kt") & F.col("kh"), "n_flip_to_drop"),
            _n(F.col("kt") == F.col("yb"), "n_agree_trained"),
            _n(F.col("kh") == F.col("yb"), "n_agree_handset"),
        )
        .orderBy("source")
    )


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer-fertility audit per source: subwords per whitespace
    word (fertility — the standard tokenizer-fit metric; high
    fertility on a domain means the vocabulary splits its words into
    fragments) and characters per subword. Exact integer sums with
    floor-ppm ratios — single scan, one #sources-bounded aggregate.
    Output: (source, n_docs, words, subwords, fertility_ppm,
    chars_per_subword_ppm)."""
    t = tokens(F.col(TEXT))
    per_doc = ensure_parallelism(docs).select(
        F.col("source"),
        F.size(t).alias("words"),
        F.size(bpe_ish_tokens(F.col(TEXT))).alias("subwords"),
        F.length(F.col(TEXT)).alias("chars"),
    )
    g = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("subwords").cast("long").alias("subwords"),
        F.sum("chars").cast("long").alias("chars"),
    )
    return g.select(
        "source",
        "n_docs",
        "words",
        "subwords",
        F.floor(
            F.col("subwords") * F.lit(1_000_000) / F.greatest("words", F.lit(1))
        )
        .cast("long")
        .alias("fertility_ppm"),
        F.floor(
            F.col("chars") * F.lit(1_000_000) / F.greatest("subwords", F.lit(1))
        )
        .cast("long")
        .alias("chars_per_subword_ppm"),
    )


def langid_margin(docs: DataFrame) -> DataFrame:
    """Language-ID confidence audit: per doc, the winning language,
    its stopword-hit count, and the margin over the runner-up — the
    0-margin slice is exactly the undecidable set a pipeline routes
    to a heavier model. Argmax and runner-up come from one sorted
    struct array built row-local (4 langs — constant width), so the
    whole operator is a zero-shuffle projection.
    Output: (doc_id, lang, hits, margin)."""
    t = tokens(F.col(TEXT))
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(t, F.array([F.lit(w) for w in words]))
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    # descending by (hits, lang): array_sort is ascending -> reverse
    ordered = F.reverse(F.array_sort(scores))
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        ordered[0]["lang"].alias("lang"),
        ordered[0]["hits"].cast("long").alias("hits"),
        (ordered[0]["hits"] - ordered[1]["hits"]).cast("long").alias("margin"),
    )


def contamination_report(
    train: DataFrame,
    eval_sets: dict[str, DataFrame],
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination matrix: for every (eval_set, training
    source), how many training docs share an n-gram with that
    benchmark — the per-benchmark breakdown release notes report,
    where doc_decontamination gives only the flat doc list.

    Each eval set contributes a tiny DISTINCT gram-hash relation
    tagged with its name (benchmarks are small by construction), all
    unioned and broadcast; the training corpus streams through ONE
    map-side join regardless of how many benchmarks are checked.
    Output: (eval_set, source, contaminated_docs, total_docs,
    contaminated_ppm)."""
    grams = ngram_hashes(tokens(F.col(TEXT)), n)
    ev_all = None
    for name, ev in sorted(eval_sets.items()):
        g = ev.select(F.explode(grams).alias("g")).distinct().select(
            F.lit(name).alias("eval_set"), "g"
        )
        ev_all = g if ev_all is None else ev_all.unionByName(g)
    train_g = ensure_parallelism(train).select(
        F.col(DOC_ID), F.col(SOURCE).alias("source"),
        F.explode(grams).alias("g"),
    )
    hits = (
        train_g.join(F.broadcast(ev_all), "g")
        .select("eval_set", "source", DOC_ID)
        .distinct()
        .groupBy("eval_set", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("contaminated_docs"))
    )
    totals = train.groupBy(F.col(SOURCE).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("total_docs")
    )
    return (
        hits.join(totals, "source")
        .select(
            "eval_set",
            "source",
            "contaminated_docs",
            "total_docs",
            F.floor(
                F.col("contaminated_docs") * F.lit(1_000_000)
                / F.col("total_docs")
            )
            .cast("long")
            .alias("contaminated_ppm"),
        )
    )


def vocab_oov_rate(docs: DataFrame) -> DataFrame:
    """Vocabulary coverage audit: build the corpus top-1024
    token vocabulary (by total frequency, ties broken
    lexicographically — fully deterministic), then measure each
    source's out-of-vocabulary token rate. The signal a tokenizer /
    vocab refresh decision needs: a source whose OOV rate is high is
    poorly served by the current vocabulary.

    Scale shape: token counts aggregate map-side (partial combine on
    the token key), the vocab is a distributed top-k
    (TakeOrderedAndProject — never a global sort of the token
    relation), and the per-source pass streams through ONE broadcast
    join against the ≤1024-row vocab. Two token-keyed shuffles
    total; text never shuffles.

    Output: (source, n_tokens, oov_tokens, oov_ppm).
    """
    toks = ensure_parallelism(docs).select(
        F.col(SOURCE).alias("source"),
        F.explode(tokens(F.col(TEXT))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(1024)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("in_vocab"))
            .cast("long")
            .alias("oov_tokens"),
        )
        .withColumn(
            "oov_ppm",
            F.floor(
                F.lit(1_000_000.0) * F.col("oov_tokens") / F.col("n_tokens")
            ).cast("long"),
        )
    )


def readability_stats(docs: DataFrame) -> DataFrame:
    """Per-document readability counting stats with a Flesch-style
    score. Sentences = non-empty '[.!?]+' segments (minimum 1 so
    punctuation-free text is one sentence); syllables = vowel-group
    runs, the standard dictionary-free proxy. Score =
    206.835 − 1.015·(words/sentence) − 84.6·(syllables/word),
    emitted as floor-milli integer: every term is a ratio of exact
    integer counts and IEEE multiply/divide/subtract are
    bit-deterministic across engines (no libm), so the floor is
    cross-engine exact.

    Pure zero-shuffle projection — regexp counting inside
    whole-stage codegen, linear in the scan.
    Output: (doc_id, n_sents, n_words, n_syllables, flesch_milli).
    """
    text = F.lower(F.col(TEXT))
    sents = F.size(
        F.filter(
            F.split(text, r"[.!?]+"),
            lambda s: F.trim(s) != F.lit(""),
        )
    )
    n_sents = F.greatest(sents, F.lit(1))
    words = F.size(tokens(F.col(TEXT)))
    n_words = F.greatest(words, F.lit(1))
    syll = F.size(F.regexp_extract_all(text, F.lit("[aeiou]+"), 0))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / n_words.cast("double"))
    )
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        n_sents.cast("long").alias("n_sents"),
        n_words.cast("long").alias("n_words"),
        syll.cast("long").alias("n_syllables"),
        F.floor(F.lit(1000.0) * score).cast("long").alias("flesch_milli"),
    )


def char_ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document character-4-gram novelty ratio — the cheap
    compressibility proxy (a gzip-able, templated, or repetitive doc
    has few distinct char 4-grams relative to its length; natural
    prose is near 1.0). Used as a quality filter alongside the
    token-level repetition signals.

    Row-local: the 4-gram array is built with a codegen transform
    over a sequence — no explode, no shuffle; output is 4 narrow
    columns per doc.
    Output: (doc_id, n_grams, distinct_grams, novelty_ppm).
    """
    text = F.lower(F.col(TEXT))
    n_grams = F.greatest(F.length(text) - F.lit(3), F.lit(0))
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.substring(text, i, 4),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return ensure_parallelism(docs).select(
        F.col(DOC_ID),
        n_grams.cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("distinct_grams"),
        F.when(n_grams > 0,
               F.floor(F.lit(1_000_000.0) * F.size(F.array_distinct(grams))
                       / n_grams))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("novelty_ppm"),
    )


# A "token" that real tokenization can never produce (tokens are
# whitespace-split, so none contains a space): the residual bucket
# symbol for out-of-top-K mass in source_tv_distance.
TV_RESIDUAL_TOKEN = " __other__ "


def source_tv_distance(docs: DataFrame, vocab_size: int = 1024) -> DataFrame:
    """Pairwise total-variation distance between per-source unigram
    distributions — the domain-shift audit behind mixture decisions:
    two sources at tv_ppm ≈ 0 are interchangeable for sampling
    weights, while a source far from every other one is the
    distribution the mixture must explicitly budget for. TV is used
    instead of KL precisely because it needs NO logarithm: with
    distributions reduced to integer counts it is exactly computable
    on any engine (KL's libm log1p would break oracle parity).

    The distribution support is the corpus top-`vocab_size` token
    vocabulary (distributed top-k, TakeOrderedAndProject) plus ONE
    residual bucket holding each source's out-of-vocab mass, so the
    per-source vectors are true probability distributions (mass sums
    to 1) of bounded dimension K+1 — the same truncation a tokenizer
    vocab applies, and what bounds the pair matrix at scale.

    Exactness: TV(p,q) = Σ|p_i − q_i|/2 is evaluated over common
    denominators — Σ|c_a·tot_b − c_b·tot_a| is an exact BIGINT (no
    per-term float division), and a single correctly-rounded double
    division at the end produces tv_ppm identically on both engines.
    (The common-denominator products stay inside BIGINT up to ~3e9
    tokens per source; past that, pre-scale counts to a coarser
    integer grid — the structure is unchanged.)

    Scale shape: token counts aggregate map-side; the (vocab ×
    sources) alignment spine is K·S rows (both factors bounded by
    construction — K by the limit, S by the source taxonomy), so the
    crossJoin is metadata-scale, never data-scale; the pair join is
    on the token key over the K·S grid. Text never shuffles.

    Output: (source_a, source_b, n_tokens_a, n_tokens_b, tv_ppm),
    one row per unordered source pair (a < b; the NULL source is a
    source and sorts first).
    """
    toks = ensure_parallelism(docs).select(
        F.col(SOURCE).alias("source"),
        F.explode(tokens(F.col(TEXT))).alias("tok"),
    )
    # three consumers (totals, top-K vocab, K-vocab restriction);
    # vocabulary-scale, never corpus-scale
    counts = materialize(toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    vocab = (
        counts.groupBy("tok")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.desc("gc"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    counts_k = counts.join(F.broadcast(vocab), "tok")
    k_mass = counts_k.groupBy("source").agg(F.sum("c").alias("k_mass"))
    resid = (
        join_null_safe(totals, k_mass, ["source"], "left")
        .select(
            "source",
            F.lit(TV_RESIDUAL_TOKEN).alias("tok"),
            (F.col("tot") - F.coalesce(F.col("k_mass"), F.lit(0)))
            .cast("long")
            .alias("c"),
        )
    )
    spine = vocab.crossJoin(totals.select("source"))
    grid = (
        join_null_safe(spine, counts_k, ["tok", "source"], "left")
        .select("tok", "source", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .unionByName(resid)
    )
    a = grid.select(
        "tok", F.col("source").alias("source_a"), F.col("c").alias("c_a")
    )
    b = grid.select(
        "tok", F.col("source").alias("source_b"), F.col("c").alias("c_b")
    )
    # the pair join runs on the (K+1)·S grid — both sides bounded by
    # construction (metadata scale), so broadcast instead of sorting
    # the same bounded relation twice. Pairs are unordered with NULL
    # first, as an ascending sort puts it.
    sa, sb = F.col("source_a"), F.col("source_b")
    paired = a.join(F.broadcast(b), "tok").filter(
        (sa.isNull() & sb.isNotNull()) | (sa < sb)
    )
    for side in ("a", "b"):
        tot = totals.select(
            F.col("source").alias(f"source_{side}"),
            F.col("tot").alias(f"tot_{side}"),
        )
        paired = join_null_safe(paired, F.broadcast(tot), [f"source_{side}"])
    return (
        paired.groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.abs(F.col("c_a") * F.col("tot_b") - F.col("c_b") * F.col("tot_a"))
            ).alias("num"),
            F.max("tot_a").alias("tot_a"),
            F.max("tot_b").alias("tot_b"),
        )
        .select(
            "source_a",
            "source_b",
            F.col("tot_a").cast("long").alias("n_tokens_a"),
            F.col("tot_b").cast("long").alias("n_tokens_b"),
            F.floor(
                F.lit(1_000_000.0)
                * (F.col("num") / (F.lit(2) * F.col("tot_a") * F.col("tot_b")))
            )
            .cast("long")
            .alias("tv_ppm"),
        )
    )


def template_clusters(docs: DataFrame, prefix_tokens: int = 8) -> DataFrame:
    """Template-page detector: cluster documents by the hash of their
    first `prefix_tokens` normalized tokens. Machine-generated pages
    (error pages, listing templates, mirrored license headers) share
    an opening stanza even when their tails differ, so a large
    cluster here is boilerplate the quality gate should down-weight —
    the cheap prefix-blocked complement of full near-dup detection
    (one zero-shuffle projection + one hash-aggregate on the 32-char
    prefix hash; no shingles, no pair expansion).

    Output: (template_md5, n_docs, n_sources, example_doc_id,
    total_chars) for clusters of ≥ 2 docs, where
    example_doc_id is the cluster's minimum id and total_chars the
    reclaimable char volume if the cluster collapsed to one doc.
    """
    prefix = F.concat_ws(
        " ", F.slice(tokens(F.col(TEXT)), 1, prefix_tokens)
    )
    return (
        ensure_parallelism(docs)
        .select(
            F.md5(prefix).alias("template_md5"),
            F.col(DOC_ID),
            F.col(SOURCE).alias("source"),
            F.length(F.col(TEXT)).cast("long").alias("n_chars"),
        )
        .groupBy("template_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # a struct is never NULL: NULL-source docs are one source
            F.countDistinct(F.struct("source"))
            .cast("long")
            .alias("n_sources"),
            F.min(DOC_ID).cast("long").alias("example_doc_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = ("spark", "join", "window"),
    k: int = 50,
) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Sparck Jones; the Lucene
    `ln(1 + (N - df + 0.5)/(df + 0.5))` non-negative idf variant,
    k1=1.2, b=0.75): rank the corpus against a fixed query-term set
    and return the top-k documents. This is the keyword-retrieval
    complement of the embedding ANN family — the first-stage
    retriever of a RAG / data-curation stack.

    Exactness contract (the unigram_logprob pattern): every per-
    (term, doc) partial is ONE fixed-shape double expression —
      idf(t) * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl)))
    with identical literal order in the DuckDB oracle — floor-
    quantized to micro before the per-doc sum, so only integer sums
    cross the aggregate and no order-dependent float summation
    exists. avgdl enters as the single broadcast double
    total_tokens/n_docs.

    Distributed shape: document length comes from size(tokens) in
    the scan projection (NO explode for the length pass); the
    explode is filtered to the query terms in the same stage, so
    only matching (doc, term) rows reach the tf hash aggregate.
    df per term and the corpus totals are broadcast scalars. The
    final top-k is (score desc, id asc) + limit ⇒
    TakeOrderedAndProject, never a global sort. Output:
    (doc_id, n_terms_hit, bm25_micro), ties broken by doc_id.
    """
    terms = [t.lower() for t in query_terms]
    base = ensure_parallelism(docs).select(
        F.col(DOC_ID), tokens(F.col(TEXT)).alias("__toks")
    )
    doclen = base.select(
        F.col(DOC_ID), F.size("__toks").cast("long").alias("dl")
    )
    totals = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # two consumers (df_t, scored)
    tf = materialize(
        base.select(
            F.col(DOC_ID),
            F.size("__toks").cast("long").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy(DOC_ID, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("dl").alias("dl"),
        )
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(DOC_ID),
            F.floor(
                F.lit(1_000_000.0)
                * F.log(
                    F.lit(1.0)
                    + (
                        (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                    )
                )
                * (
                    (F.col("tf") * F.lit(2.2))
                    / (
                        F.col("tf")
                        + F.lit(1.2)
                        * (
                            F.lit(0.25)
                            + F.lit(0.75)
                            * (F.col("dl") / F.col("avgdl"))
                        )
                    )
                )
            )
            .cast("long")
            .alias("s_micro"),
        )
    )
    return (
        scored.groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("s_micro").cast("long").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), F.asc(DOC_ID))
        .limit(k)
    )


def hybrid_retrieval_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    n_candidates: int = 50,
    m_feedback: int = 10,
    k: int = 10,
) -> DataFrame:
    """Retrieve-then-rerank — the two-stage shape of a production
    RAG / curation retriever: BM25 keyword retrieval proposes
    `n_candidates` documents, a dense rerank reorders them, and only
    the fused top-k survives. The rerank query vector is built by
    pseudo-relevance feedback (Rocchio with α=0, β=1): the SUM of
    the quantized embeddings of the top `m_feedback` BM25 hits —
    summing instead of averaging keeps every coordinate an exact
    integer, and cosine is scale-invariant so the ranking is
    unchanged.

    Exactness contract: embeddings quantize once to
    q = floor(v·2^8) (the lsh_topk_exact idiom,
    similarity.py); the feedback centroid, every dot product, and
    every squared norm are exact integer sums, and only the final
    cos_mppm = floor(1e6·d/(√nq2·√nd2)) touches doubles — one
    fixed-shape expression with identical literal order in the
    DuckDB oracle.

    Distributed shape: BM25 is the existing TakeOrderedAndProject
    pipeline; its ≤ n_candidates ids broadcast-semi-prune the
    embeddings scan so the corpus vectors are read ONCE and never
    shuffled (the pruned relation is checkpointed — it feeds the
    feedback centroid AND the rerank). The centroid is a
    D-row aggregate, its norm a 1-row broadcast scalar; the final
    rank window orders ≤ n_candidates rows. Candidates without an
    embedding row cannot be reranked and drop out (inner-join
    contract). Output: (doc_id, rank, cos_mppm, n_terms_hit,
    bm25_micro), rank by (cos_mppm desc, doc_id asc).
    """
    from pyspark.sql.window import Window

    from iceberg_diag_spark.operators.similarity import (
        _cos_mppm,
        _quantize,
        int_dot,
    )

    cand = bm25_topk(docs, k=n_candidates)
    # three consumers (vector prune, feedback pick, final projection)
    cand = materialize(cand)
    cvec = (
        embeddings.select(
            F.col("vec_id").alias(DOC_ID),
            _quantize(F.col("embedding"), 8).alias("q"),
        )
        .join(F.broadcast(cand.select(DOC_ID)), DOC_ID, "semi")
        .select(
            DOC_ID, "q", int_dot(F.col("q"), F.col("q")).alias("nd2")
        )
    )
    # two consumers (centroid, rerank)
    cvec = materialize(cvec)
    fb_ids = (
        cand.orderBy(F.desc("bm25_micro"), F.asc(DOC_ID))
        .limit(m_feedback)
        .select(DOC_ID)
    )
    fb_dims = (
        cvec.join(F.broadcast(fb_ids), DOC_ID, "semi")
        .select(F.posexplode("q").alias("pos", "qd"))
        .groupBy("pos")
        .agg(F.sum("qd").cast("long").alias("qs"))
    )
    qnorm = fb_dims.agg(
        F.sum(F.col("qs") * F.col("qs")).cast("long").alias("nq2")
    )
    dots = (
        cvec.select(
            DOC_ID, "nd2", F.posexplode("q").alias("pos", "qd")
        )
        .join(F.broadcast(fb_dims), "pos")
        .groupBy(DOC_ID)
        .agg(
            F.max("nd2").alias("nd2"),
            F.sum(F.col("qd") * F.col("qs")).cast("long").alias("d"),
        )
    )
    scored = (
        dots.crossJoin(F.broadcast(qnorm))
        # zero-norm vectors (all-zero quantization) have no direction
        .filter((F.col("nd2") > 0) & (F.col("nq2") > 0))
        .select(DOC_ID, _cos_mppm(F.col("d"), "nq2", "nd2").alias("cos_mppm"))
    )
    w = Window.orderBy(F.desc("cos_mppm"), F.asc(DOC_ID))
    return (
        scored.join(F.broadcast(cand), DOC_ID)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(DOC_ID, "rank", "cos_mppm", "n_terms_hit", "bm25_micro")
    )


def bpe_merge_candidates(docs: DataFrame) -> DataFrame:
    """First-iteration BPE merge statistics — the tokenizer-training
    counterpart of tokenizer_fertility: for every adjacent character
    pair, the corpus-frequency-weighted occurrence count, i.e. the
    quantity BPE training maximizes when it picks its first merge.

    Scale contract (the classic BPE training optimization): pair
    counting runs over the DISTINCT word forms weighted by corpus
    frequency, never over the token stream — the corpus collapses to
    its vocabulary (Heaps-sublinear in corpus size) after ONE word
    count aggregate, and the pair explode touches each distinct form
    once. Overlapping occurrences count individually ("aaa" has two
    "aa" pairs), matching the standard counting stage. The final
    top-20 is (count desc, pair asc) + limit ⇒ TakeOrderedAndProject.
    All counts are exact integers. Output:
    (pair, n_word_forms, merge_count).
    """
    words = (
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.col(TEXT))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    pairs = words.select(
        "w",
        "wc",
        # length >= 2 is guaranteed above, so the sequence is never
        # descending (Spark's sequence(1, 0) would yield [1, 0])
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
    ).select(F.expr("substring(w, i, 2)").alias("pair"), "w", "wc")
    return (
        pairs.groupBy("pair")
        .agg(
            F.countDistinct("w").cast("long").alias("n_word_forms"),
            F.sum("wc").cast("long").alias("merge_count"),
        )
        .orderBy(F.desc("merge_count"), F.asc("pair"))
        .limit(20)
    )


def _rule_battery(
    docs: DataFrame,
    rules: dict[str, Column],
    source_col: str,
    sums: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-source pass counts of a document rule battery: each doc is
    flagged r_<rule> per rule and r_all (every rule passes) in one
    row-local projection, then ONE map-side-combined aggregate reduces
    to the |sources| relation. `sums` names per-doc counts summed per
    source next to the passes. Output: (source, n_docs,
    n_pass_<rule>…, n_pass_all, <sums>…, pass_all_ppm)."""
    sums = sums or {}
    flagged = ensure_parallelism(docs).select(
        F.col(source_col).alias("source"),
        *[c.cast("long").alias(f"__{k}") for k, c in sums.items()],
        *[c.alias(f"r_{k}") for k, c in rules.items()],
    )
    all_pass = F.lit(True)
    for k in rules:
        all_pass = all_pass & F.col(f"r_{k}")
    return (
        flagged.withColumn("r_all", all_pass)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(F.col(f"r_{k}").cast("long"))
                .cast("long")
                .alias(f"n_pass_{k}")
                for k in [*rules, "all"]
            ],
            *[F.sum(f"__{k}").cast("long").alias(k) for k in sums],
        )
        .withColumn(
            "pass_all_ppm",
            F.expr("1000000 * n_pass_all DIV n_docs").cast("long"),
        )
    )


# The 8-word stopword panel Gopher's "has ≥2 stop words" rule checks
# (Rae et al. 2021, §A1.1) — deliberately NOT the full STOPWORDS list.
GOPHER_STOP_PANEL = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules_audit(docs: DataFrame) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021, §A1.1) — the
    published heuristic filter stack MassiveText shipped, as a
    per-source pass-rate audit. The five rules this corpus exercises,
    all integer-exact (ratios as cross-multiplies, never floats):

      word_count     50 ≤ tokens ≤ 100 000
      mean_word_len  3 ≤ Σ token chars / tokens ≤ 10
                     (3·n ≤ Σlen ≤ 10·n)
      alpha_words    ≥ 80% of tokens contain an alphabetic char
                     (10·hits ≥ 8·n)
      stop_panel     ≥ 2 distinct hits on the 8-word Gopher panel
      dup_trigrams   duplicate-trigram mass ≤ 30% of trigrams
                     (10·dup ≤ 3·total; empty trigram set passes)

    Scale: every rule is a row-local projection over ONE corpus scan
    (token array built once and shared), then one map-side-combined
    aggregate to the |sources| relation (_rule_battery) — the
    expectations_audit shape. Output per source: (source, n_docs,
    n_pass_word_count, n_pass_mean_word_len, n_pass_alpha_words,
    n_pass_stop_panel, n_pass_dup_trigrams, n_pass_all,
    pass_all_ppm).
    """
    t = tokens(F.col(TEXT))
    n = F.size(t)
    # 64-bit seed: an IntegerType accumulator would wrap a pathological
    # >2^31-token-char document where the DuckDB oracle sums in BIGINT
    # — seed long so both engines agree on any input.
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    alpha_hits = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    panel = F.array(*[F.lit(w) for w in GOPHER_STOP_PANEL])
    panel_hits = F.size(F.array_intersect(t, panel))
    tri = _trigrams(t)
    dup_tri = F.size(tri) - F.size(F.array_distinct(tri))
    rules = {
        "word_count": (n >= 50) & (n <= 100_000),
        "mean_word_len": (sum_len >= 3 * n) & (sum_len <= 10 * n),
        "alpha_words": alpha_hits * 10 >= n * 8,
        "stop_panel": panel_hits >= 2,
        "dup_trigrams": dup_tri * 10 <= F.size(tri) * 3,
    }
    return _rule_battery(docs, rules, SOURCE)


# Stand-in for C4's bad-word list (the published pipeline uses the
# LDNOOBW list; the battery only needs A fixed panel to audit with).
C4_BADWORD_PANEL = ("porn", "xxx", "viagra", "casino")


def c4_rules_audit(docs: DataFrame) -> DataFrame:
    """C4 cleaning-rule battery (Raffel et al. 2020, §2.2) as a
    per-source audit — the published heuristics behind the C4 corpus,
    sibling of gopher_rules_audit. Document-level rules (all
    integer-exact, cross-multiplies instead of floats):

      min_sentences   ≥ 3 terminal punctuation marks (.!?)
      line_punct      ≥ 50% of lines end in terminal punctuation
                      (2·hits ≥ n_lines; C4 drops the failing lines,
                      the audit reports the doc-level share)
      line_words      every line carries ≥ 5 whitespace words
      no_lorem        no 'lorem ipsum' placeholder text
      no_brace        no '{' (code/markup tell)
      no_badwords     no token on the bad-word panel

    Plus the LINE-level half C4 actually executes: per source, how
    many lines exist and how many survive the published line filter
    (terminal punctuation AND ≥ 5 words) — the retained-mass figure a
    C4-style cleaning run would keep.

    Scale: the line array and every rule are row-local projections on
    ONE corpus scan, then one map-side-combined aggregate to the
    |sources| relation (_rule_battery, shared with
    gopher_rules_audit). Output per source: (source, n_docs,
    n_pass_min_sentences, n_pass_line_punct, n_pass_line_words,
    n_pass_no_lorem, n_pass_no_brace, n_pass_no_badwords,
    n_pass_all, lines_total, lines_kept, pass_all_ppm,
    line_keep_ppm).
    """
    t = tokens(F.col(TEXT))
    low = F.lower(F.col(TEXT))
    def _count_ch(ch: str):
        return F.length(TEXT) - F.length(
            F.replace(F.col(TEXT), F.lit(ch), F.lit(""))
        )

    n_term = _count_ch(".") + _count_ch("!") + _count_ch("?")
    lines = F.split(F.col(TEXT), "\n")
    n_lines = F.size(lines)

    def _punct(x):
        return x.rlike('[.!?"]$')

    def _words5(x):
        return F.size(F.split(F.trim(x), r"\s+")) >= 5

    n_punct = F.size(F.filter(lines, _punct))
    n_words5 = F.size(F.filter(lines, _words5))
    n_kept = F.size(F.filter(lines, lambda x: _punct(x) & _words5(x)))
    panel = F.array(*[F.lit(w) for w in C4_BADWORD_PANEL])
    rules = {
        "min_sentences": n_term >= 3,
        "line_punct": n_punct * 2 >= n_lines,
        "line_words": n_words5 == n_lines,
        "no_lorem": ~low.contains("lorem ipsum"),
        "no_brace": ~F.col(TEXT).contains("{"),
        "no_badwords": F.size(F.array_intersect(t, panel)) == 0,
    }
    return _rule_battery(
        docs, rules, SOURCE, {"lines_total": n_lines, "lines_kept": n_kept}
    ).withColumn(
        "line_keep_ppm",
        F.expr("1000000 * lines_kept DIV lines_total").cast("long"),
    )


def lang_id_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the stopword-voting language detector
    against the corpus's labeled `lang` column — the detector-quality
    audit run before trusting language gates in curation: which
    labeled languages leak into which predictions (a label outside
    the detector's stopword inventory, e.g. zh here, must show up as
    'und' or systematic confusion, not silently vanish).

    One scan (the voting exprs ride the projection — language_id's
    zero-shuffle shape), one aggregate to the ≤ |labels|·|langs+1|
    relation, then label-share via a window on that bounded matrix.
    Output: (lang, pred_lang, n_docs, label_share_ppm).
    """
    from pyspark.sql.window import Window

    best = language_best()
    cells = (
        ensure_parallelism(docs)
        .select(
            F.col("lang"),
            F.when(best["hits"] > 0, best["lang"])
            .otherwise(F.lit("und"))
            .alias("pred_lang"),
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return (
        cells.withColumn("__tot", F.sum("n_docs").over(w))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr("1000000 * n_docs DIV __tot").cast("long").alias(
                "label_share_ppm"
            ),
        )
    )


# Symbol-boundary separator for the BPE trainer's wrapped-string word
# representation: U+001F (unit separator) — not regex-\s, so the
# whitespace tokenizer never produces it; word forms containing it are
# excluded (mirrored in the oracle), keeping replace() boundary-exact.
BPE_SEP = "\x1f"


def bpe_train_merges(docs: DataFrame, k: int = 8) -> DataFrame:
    """Iterated BPE training — the actual tokenizer-training inner
    loop, k merges deep (bpe_merge_candidates computes only the first
    iteration's statistics): repeatedly pick the corpus-frequency-max
    adjacent symbol pair and replace it left-to-right non-overlapping
    in every word form, exactly the Sennrich et al. procedure.

    Relational shape (the classic BPE optimization, now iterated):
    the TOKEN STREAM is touched exactly once — the initial word-count
    aggregate — and every merge iteration runs on the distinct
    word-form relation (Heaps-sublinear in corpus size). Each word is
    a wrapped string "␟c₁␟␟c₂␟…" (every symbol in its own BPE_SEP
    fence), which makes the merge application a plain string
    replace(): the pattern "␟a␟␟b␟" can only match whole adjacent
    symbols, and both engines' replace() scans left-to-right
    non-overlapping and continues AFTER the replacement — the
    Sennrich application order ("aaa" + merge(a,a) → ["aa","a"]) for
    free, with no regex and no per-row sequential fold.

    Per iteration: one pair-count aggregate over the word relation
    (uniform keys, map-side combine), a map-side top-1
    (TakeOrderedAndProject — ONE row to the driver, the bounded
    decision-scalar precedent), one narrow replace projection,
    materialize to truncate the k-deep lineage (the iterative-
    algorithm pattern). Merge identity is deterministic: count DESC,
    then (left, right) lexicographic.

    Output, one row per step (step 0 = pre-merge baseline): (step,
    left_sym, right_sym, merge_count, corpus_symbols, fertility_ppm)
    — corpus_symbols shrinks by exactly merge_count each step, and
    fertility_ppm (symbols per whitespace word, the
    tokenizer_fertility metric) falls from the all-characters
    baseline toward the trained vocabulary's fertility.

    Raises ValueError if the corpus runs out of adjacent pairs before
    k merges (degenerate inputs only).
    """
    from functools import reduce

    w_rels, merges, wtot = _bpe_train(docs, k, TEXT)
    sym_count = F.expr(
        "(length(s) - length(replace(s, chr(31), ''))) DIV 2"
    )

    def stats(step: int, lft: str, rgt: str, cnt: int) -> DataFrame:
        return w_rels[step].agg(
            F.sum(F.col("wc") * sym_count).alias("ts")
        ).select(
            F.lit(step).cast("long").alias("step"),
            F.lit(lft).alias("left_sym"),
            F.lit(rgt).alias("right_sym"),
            F.lit(cnt).cast("long").alias("merge_count"),
            F.col("ts").cast("long").alias("corpus_symbols"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * ts"
                f" DIV {wtot} AS BIGINT)"
            ).alias("fertility_ppm"),
        )

    out = [stats(0, "", "", 0)] + [
        stats(i, lft, rgt, cnt)
        for i, (lft, rgt, cnt) in enumerate(merges, 1)
    ]
    return reduce(lambda a, b: a.unionByName(b), out)


def _bpe_train(docs, k, text_col):
    """Shared BPE training loop (see bpe_train_merges for the
    relational contract). Returns (w_rels, merges, wtot): w_rels[i]
    is the eager-checkpointed wrapped word relation after i merges,
    merges is [(left, right, count)] in application order, wtot the
    total word occurrences (fertility denominator)."""
    sep = BPE_SEP
    words = (
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").contains(sep)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    w_rel = materialize(words.select(
        "w",
        "wc",
        F.regexp_replace("w", "(.)", sep + "$1" + sep).alias("s"),
    ), eager=True)
    # total word occurrences: the constant fertility denominator
    # (one bounded scalar to the driver; oracle recomputes it)
    wtot = w_rel.agg(F.sum("wc")).collect()[0][0] or 1
    w_rels = [w_rel]
    merges: list[tuple[str, str, int]] = []
    for i in range(1, k + 1):
        syms = F.split(
            F.expr("trim(BOTH chr(31) FROM s)"), sep + sep
        )
        top = (
            w_rel.select("wc", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), j -> "
                        "struct(element_at(syms, j) AS lft, "
                        "element_at(syms, j + 1) AS rgt))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lft", "p.rgt")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lft"), F.asc("rgt"))
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                f"corpus exhausted adjacent symbol pairs after {i - 1} "
                f"merges; lower k (requested {k})"
            )
        lft, rgt, cnt = top[0]["lft"], top[0]["rgt"], int(top[0]["cnt"])
        w_rel = materialize(w_rel.select(
            "w",
            "wc",
            F.replace(
                F.col("s"),
                F.lit(sep + lft + sep + sep + rgt + sep),
                F.lit(sep + lft + rgt + sep),
            ).alias("s"),
        ), eager=True)
        w_rels.append(w_rel)
        merges.append((lft, rgt, cnt))
    return w_rels, merges, wtot


def bpe_vocab_coverage(docs: DataFrame, k: int = 8) -> DataFrame:
    """Apply the trained BPE merge table to the corpus and audit the
    resulting tokenizer PER SOURCE — the deployment half of
    bpe_train_merges (train on the pooled corpus, then ask which
    domains the learned vocabulary actually serves): subwords per
    word (fertility) under the trained tokenizer vs the
    all-characters baseline, and what share of emitted symbols are
    merged multi-character units (merge coverage — a domain the
    merges ignore stays at character soup).

    Shape: training touches the token stream once (the _bpe_train
    contract); application is FREE — the trained word-form relation
    IS the encoded corpus — so the only additions are one
    (source, word) count aggregate and a vocabulary-scale join of
    per-source counts onto the encoded forms. Per-word symbol splits
    are row-local bounded array ops.

    Output per source: (source, words, chars, subwords,
    merged_subwords, fertility_ppm, baseline_fertility_ppm,
    merged_share_ppm).
    """
    sep = BPE_SEP
    w_rels, _merges, _wtot = _bpe_train(docs, k, TEXT)
    encoded = w_rels[-1]
    per_source = (
        ensure_parallelism(docs)
        .select(
            F.col(SOURCE).alias("source"),
            F.explode(tokens(F.col(TEXT))).alias("w"),
        )
        .filter((F.col("w") != "") & (~F.col("w").contains(sep)))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc_s"))
    )
    syms = F.split(F.expr("trim(BOTH chr(31) FROM s)"), sep + sep)
    enc = encoded.select(
        "w",
        F.expr(
            "(length(s) - length(replace(s, chr(31), ''))) DIV 2"
        ).alias("n_sub"),
        F.size(F.filter(syms, lambda x: F.length(x) > 1)).alias("n_merged"),
        F.length("w").alias("n_chars"),
    )
    return (
        per_source.join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("wc_s").cast("long").alias("words"),
            F.sum(F.col("wc_s") * F.col("n_chars")).cast("long").alias(
                "chars"
            ),
            F.sum(F.col("wc_s") * F.col("n_sub")).cast("long").alias(
                "subwords"
            ),
            F.sum(F.col("wc_s") * F.col("n_merged")).cast("long").alias(
                "merged_subwords"
            ),
        )
        .select(
            "source",
            "words",
            "chars",
            "subwords",
            "merged_subwords",
            # DECIMAL numerators: 10^6 x corpus-char counts pass int64
            # only to ~9e12 chars/source — too tight at 100 TB
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * subwords"
                " DIV words AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * chars"
                " DIV words AS BIGINT)"
            ).alias("baseline_fertility_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * merged_subwords"
                " DIV subwords AS BIGINT)"
            ).alias("merged_share_ppm"),
        )
    )


def unigram_lm_train(
    docs: DataFrame,
    k_em: int = 2,
    n_multi: int = 48,
) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece/Kudo 2018
    counterpart of bpe_train_merges) — hard-EM over a substring
    vocabulary: seed pieces from corpus substring counts, then k_em
    rounds of (E) Viterbi-segment every word form under the current
    piece scores and (M) re-estimate scores from the segmentation's
    piece counts, pruning multi-char pieces no Viterbi path uses.
    Hard-EM (Viterbi counts, zero-count prune) is the standard
    deterministic simplification of Kudo's soft-EM + loss-ranked
    prune; single-character pieces are never pruned, so every word
    stays segmentable (Kudo's coverage guarantee).

    Relational shape (the _bpe_train contract): the TOKEN STREAM is
    touched exactly once — the distinct word-form aggregate — and all
    k_em iterations run on vocabulary-scale relations
    (Heaps-sublinear in corpus size). The span relation (every
    (end, len≤4) substring of every word form, built once
    and checkpointed) is the only super-word-scale intermediate at
    ~MAX_WORD_LEN·4 rows per word form. Per iteration:
    one BROADCAST join of spans to the ≤(chars+n_multi)-row score
    table, one collect_list bounded by the span fan-out, a row-local
    array-fold Viterbi DP (forward bests + backtrack, O(|w|·L) per
    word — the events_holt_forecast bounded-fold precedent), and one
    map-side-combined count aggregate on uniform piece keys. Zero
    driver round-trips; eager checkpoints truncate the k_em-deep
    lineage exactly as _bpe_train does.

    Determinism: piece scores are floor-quantized micro-nat NLLs
    (Laplace-smoothed −ln((cnt+1)/(total+V)), the doc_kn_nll
    fixed-shape idiom), so the DP itself is exact integer arithmetic;
    Viterbi ties break toward the LONGEST piece (and (end, len)
    identifies a span uniquely, so the tie-break is total).

    Output, one row per surviving piece after the final M-step:
    (piece, piece_len, em_count, nll_micro) — em_count is the final
    Viterbi count (single chars may carry 0; they are kept for
    coverage), nll_micro the smoothed score the next segmentation
    would use.
    """
    _, _, score = _unigram_lm_core(docs, k_em, 4, n_multi)
    return score.select(
        "piece",
        F.col("l").cast("long").alias("piece_len"),
        F.col("cnt").alias("em_count"),
        "nll_micro",
    )


def _unigram_lm_core(
    docs: DataFrame,
    k_em: int = 2,
    max_piece_len: int = 4,
    n_multi: int = 48,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The trainer's relational core, shared with unigram_lm_encode:
    returns (words, spans, score) — the checkpointed distinct
    word-form relation, the checkpointed span relation, and the final
    k_em-round score table. Pure extraction from unigram_lm_train
    (plans identical); see that docstring for semantics and scale."""
    words = materialize(
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.col(TEXT))).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc")),
        eager=True,
    )
    # every (end i, len l, piece) span of every word form, built once
    spans = materialize(
        words.select(
            "w",
            "wc",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i -> "
                    f"transform(sequence(1, least({max_piece_len}, i)), "
                    "l -> struct(i AS i, l AS l, "
                    "substr(w, i - l + 1, l) AS piece))))"
                )
            ).alias("sp"),
        )
        .select("w", "wc", "sp.i", "sp.l", "sp.piece"),
        eager=True,
    )
    seed = spans.groupBy("piece", "l").agg(
        F.sum("wc").cast("long").alias("cnt")
    )
    chars = materialize(seed.filter(F.col("l") == 1), eager=True)
    multis = (
        seed.filter(F.col("l") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(n_multi)
    )
    vocab = materialize(chars.unionByName(multis), eager=True)

    def scored(vocab_df: DataFrame) -> DataFrame:
        tot = vocab_df.agg(
            F.sum("cnt").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        return vocab_df.crossJoin(F.broadcast(tot)).select(
            "piece",
            "l",
            "cnt",
            F.floor(
                -F.log(
                    (F.col("cnt").cast("double") + F.lit(1.0))
                    / (F.col("total") + F.col("v"))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("nll_micro"),
        )

    def estep(score_df: DataFrame) -> DataFrame:
        return (
            _viterbi_segmented(spans, words, score_df)
            .select("wc", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("wc").cast("long").alias("cnt"))
        )

    score = scored(vocab)
    for _ in range(k_em):
        em = estep(score)
        vocab = materialize(
            chars.select("piece")
            .join(em, "piece", "left")
            .select(
                "piece",
                F.lit(1).cast("int").alias("l"),
                F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            )
            .unionByName(
                em.filter(
                    (F.length("piece") >= 2) & (F.col("cnt") > 0)
                ).select(
                    "piece",
                    F.length("piece").cast("int").alias("l"),
                    "cnt",
                )
            ),
            eager=True,
        )
        score = scored(vocab)
    return words, spans, score


def _viterbi_segmented(
    spans: DataFrame, words: DataFrame, score_df: DataFrame
) -> DataFrame:
    """Viterbi segmentation of every word form under a piece-score
    table — the trainer's E-step core, shared with unigram_lm_encode:
    one BROADCAST join of the span relation to the bounded score
    table, one collect_list bounded by the span fan-out, a row-local
    integer array-fold DP (forward bests + backtrack). Ties break
    toward the LONGEST piece via a struct-sort on negated length —
    total, since an (end, len) pair identifies a span uniquely.
    Lambda variables are uniquified per occurrence: Spark rejects a
    nested lambda that rebinds an enclosing lambda's name.
    Output: (w, wc, pieces array<string> in backtrack order)."""

    def chosen(v1: str, v2: str) -> str:
        return (
            "element_at(array_sort(transform(filter(sp, "
            f"{v1} -> {v1}.i = acc.pos AND "
            f"element_at(bests, acc.pos - {v1}.l + 1) + {v1}.nll = "
            "element_at(bests, acc.pos + 1)), "
            f"{v2} -> struct(-{v2}.l AS nl, {v2}.piece AS piece, "
            f"{v2}.l AS l))), 1)"
        )

    sc = spans.join(
        F.broadcast(score_df.select("piece", "nll_micro")), "piece"
    )
    sp_arr = sc.groupBy("w").agg(
        F.collect_list(
            F.struct(
                F.col("i").cast("int").alias("i"),
                F.col("l").cast("int").alias("l"),
                F.col("piece").alias("piece"),
                F.col("nll_micro").cast("long").alias("nll"),
            )
        ).alias("sp")
    )
    based = words.join(sp_arr, "w").withColumn(
        "bests",
        F.expr(
            "aggregate(sequence(1, length(w)), "
            "array(CAST(0 AS BIGINT)), "
            "(acc, i) -> acc || array(array_min(transform("
            "filter(sp, x -> x.i = i), "
            "x -> element_at(acc, i - x.l + 1) + x.nll))))"
        ),
    )
    picked = based.withColumn(
        "pieces",
        F.expr(
            "aggregate(sequence(1, length(w)), "
            "named_struct('pos', length(w), "
            "'ps', CAST(array() AS array<string>)), "
            "(acc, s) -> IF(acc.pos <= 0, acc, named_struct("
            f"'pos', acc.pos - {chosen('x1', 'y1')}.l, "
            f"'ps', acc.ps || array({chosen('x2', 'y2')}.piece)))"
            ").ps"
        ),
    )
    return picked.select("w", "wc", "pieces")


def unigram_lm_encode(docs: DataFrame, k_em: int = 2) -> DataFrame:
    """Trainer-EXECUTING pattern #7 — closes the tokenizer loop:
    unigram_lm_train learns the piece vocabulary; this ENCODES the
    corpus with it and reports what a dataloader would actually see —
    per source: encodable word occurrences, emitted pieces, character
    mass, fertility (pieces per word, the tokenizer-fit metric
    tokenizer_fertility reports for the fixed BPE-ish baseline — now
    measurable for the TRAINED vocabulary), and characters per piece
    (compression). The comparison every tokenizer deployment runs
    before freezing a vocab.

    Shape: the trainer core runs once (token stream touched once for
    the word-form relation; all EM rounds vocabulary-scale), then ONE
    more shared-core Viterbi segmentation under the final scores
    gives each word form its piece count, and one (source, word)
    occurrence aggregate joins it — a vocabulary-scale hash join on
    the uniform word key, never a per-token join (occurrences carry
    only counts). Words longer than MAX_WORD_LEN or empty are outside
    the trained model's domain and excluded from BOTH sides by the
    same filter as training (stated contract, not silence).

    Output per source: (source, n_words, n_pieces, n_chars,
    fertility_ppm, chars_per_piece_ppm).
    """
    words, spans, score = _unigram_lm_core(docs, k_em)
    seg = _viterbi_segmented(spans, words, score).select(
        "w", F.size("pieces").cast("long").alias("np")
    )
    src_w = (
        ensure_parallelism(docs)
        .select(
            "source", F.explode(tokens(F.col(TEXT))).alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        src_w.join(seg, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("np")).cast("long").alias("n_pieces"),
            F.sum(F.col("c") * F.length("w")).cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_pieces",
            "n_chars",
            F.expr("CAST(1000000 * n_pieces DIV n_words AS BIGINT)").alias(
                "fertility_ppm"
            ),
            F.expr(
                "CAST(1000000 * n_chars DIV n_pieces AS BIGINT)"
            ).alias("chars_per_piece_ppm"),
        )
    )


def zipf_fit_audit(docs: DataFrame, k: int = 1000) -> DataFrame:
    """Zipf's-law goodness-of-fit: the OLS slope of ln(frequency) on
    ln(rank) over the top-k vocabulary — the one-number "is this
    corpus natural language or template spam" audit (natural text
    fits slope ≈ −1; machine-generated / boilerplate corpora flatten
    or step). Consumes the Zipf head token_zipf_curve renders
    (_zipf_head), adding the regression the curve only eyeballs.

    Integer-exact determinism: x = ⌊ln(rank)·10⁶⌋ and
    y = ⌊ln(count)·10⁶⌋ floor ONCE per term, then all regression
    sums run in DECIMAL(38,0)/HUGEINT. Because frequency is
    non-increasing in rank BY CONSTRUCTION, cov(x, y) ≤ 0 always —
    so the slope is computed on the flipped ordinate y' = C − y
    (C cancels in the covariance), keeping every division
    non-negative where Spark's truncating DIV and DuckDB's flooring
    // agree. slope_micro = −(n·Σxy' − Σx·Σy')·10⁶ DIV
    (n·Σx² − (Σx)²); intercept_micro follows from the floored slope
    and the exact sums.

    Scale: one tokenize+explode scan into the token hash aggregate
    (_token_counts), the top-k head (_zipf_head: map-side partial
    top-k, never a vocab sort, a k-row bounded window), then one
    1-row aggregate. Output (one row): (n_terms, zipf_slope_micro,
    intercept_micro).
    """
    c_flip = 64_000_000  # > ln(2^63)·1e6 — any int64 count flips positive
    xy = _zipf_head(_token_counts(docs, TEXT), k).select(
        F.floor(F.log(F.col("rank").cast("double")) * 1e6)
        .cast("decimal(38,0)")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1e6)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("x") * (F.lit(c_flip) - F.col("y"))).alias("sxyf"),
        F.sum(F.lit(c_flip) - F.col("y")).alias("syf"),
    )
    # zero x-variance (a single distinct token) yields NULL in both
    # engines instead of an ANSI divide-by-zero crash / NULL mismatch
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL"
            " ELSE -((n * sxyf - sx * syf) * 1000000"
            " DIV (n * sx2 - sx * sx)) END AS BIGINT)"
        ).alias("zipf_slope_micro"),
        F.expr(
            "CAST(CASE WHEN n * sx2 - sx * sx = 0 THEN NULL"
            " ELSE (sy * 1000000"
            " + ((n * sxyf - sx * syf) * 1000000 DIV (n * sx2 - sx * sx))"
            "   * sx) DIV (n * 1000000) END AS BIGINT)"
        ).alias("intercept_micro"),
    )


def source_quality_calibration(docs: DataFrame) -> DataFrame:
    """Per-source percentile calibration of a quality score — the
    normalization step before corpus-wide quality thresholding: raw
    quality distributions differ by domain (a 60th-percentile web
    page and a 60th-percentile academic text have very different
    absolute scores), so curation stacks threshold on the WITHIN-
    source percentile, not the raw score. Score here is the
    type-token ratio in exact ppm (the quality_dup_matrix proxy).

    Distributed shape — the count mode of shuffling.grouped_prefix_sum:
    a bare `row_number() OVER (PARTITION BY source ORDER BY score)`
    puts each source (potentially 10^9+ docs) in one task. Instead
    per-source approx-percentile range edges (a |sources|-row
    broadcast; accuracy affects only load balance, never
    correctness) assign each row an order-preserving shard; ranks
    complete within (source, shard) windows plus exact broadcast
    cumulative shard counts. pct_ppm =
    floor(1e6·(rank−1)/(n_s−1)) so each source spans [0, 1e6].
    Output: (doc_id, source, ttr_ppm, src_rank, pct_ppm).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    toks = tokens(F.col(TEXT))
    scored = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.col(SOURCE).alias("source"),
        F.floor(
            F.lit(1_000_000)
            * F.size(F.array_distinct(toks)).cast("long")
            / F.greatest(F.size(toks), F.lit(1)).cast("long")
        )
        .cast("long")
        .alias("ttr_ppm"),
    )
    # three consumers (percentile edges, shard totals, the ranked base)
    scored = materialize(scored)
    return grouped_prefix_sum(
        scored, ["source"], ["ttr_ppm", DOC_ID], n_shards=N_SHARDS
    ).select(
        DOC_ID,
        "source",
        "ttr_ppm",
        (F.col("prefix") + 1).cast("long").alias("src_rank"),
        F.floor(
            F.lit(1_000_000)
            * F.col("prefix")
            / F.greatest(F.col("prefix_total") - 1, F.lit(1))
        )
        .cast("long")
        .alias("pct_ppm"),
    )


def quality_length_skyline(docs: DataFrame) -> DataFrame:
    """Pareto frontier (skyline) of the quality-length tradeoff: the
    documents not dominated by any other document on
    (ttr quality ↑, character length ↑) — the shortlist a curator
    inspects by hand, and a genuinely distinct relational operator
    (skyline) the rest of the registry doesn't exercise. A doc is
    dominated iff another doc is ≥ on both axes and strictly better
    on at least one; ties on both axes are mutually non-dominating
    and all survive.

    Distributed 2-D skyline without any corpus-wide sort: fold the
    corpus to the per-ttr-value maximum length (ONE hash aggregate;
    the (ttr, max_chars) histogram is bounded by |distinct ttr| ≤
    1e6+1 — metadata scale, the user_activity_gini bound argument),
    take the strictly-higher-ttr running max over that bounded
    relation (the only window, |distinct ttr| rows), and join back:
    survivor ⇔ chars > running_max_above AND chars = own-ttr max.
    Output: (doc_id, ttr_ppm, chars).
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(TEXT))
    scored = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.floor(
            F.lit(1_000_000)
            * F.size(F.array_distinct(toks)).cast("long")
            / F.greatest(F.size(toks), F.lit(1)).cast("long")
        )
        .cast("long")
        .alias("ttr_ppm"),
        F.length(F.col(TEXT)).cast("long").alias("chars"),
    )
    g = scored.groupBy("ttr_ppm").agg(F.max("chars").alias("mx"))
    w_above = (
        Window.orderBy(F.desc("ttr_ppm"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thr = g.select(
        "ttr_ppm",
        "mx",
        F.coalesce(F.max("mx").over(w_above), F.lit(-1)).alias("hi_mx"),
    )
    return (
        scored.join(thr, "ttr_ppm")
        .filter(
            (F.col("chars") > F.col("hi_mx"))
            & (F.col("chars") == F.col("mx"))
        )
        .select(DOC_ID, "ttr_ppm", "chars")
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top collocations by pointwise mutual information over the
    corpus bigram stream: PMI(a,b) = ln(c_ab·N / (c_a·c_b)) with all
    marginals taken over bigram EVENTS (c_a = bigrams starting with
    a, c_b = bigrams ending with b, N = total bigrams) — the
    Church & Hanks association measure that drives merge decisions
    in BPE/WordPiece-style vocabulary construction and multiword-
    expression mining.

    Exactness contract: counts are exact integers; each surviving
    pair's PMI is ONE fixed-shape double expression in log-sum form
    ln(c_ab) + ln(N) − ln(c_a) − ln(c_b) (left-associated
    identically in the DuckDB oracle), floor-quantized to
    micro-nats. The log-sum form is deliberate: the integer product
    c_ab·N wraps int64 once the corpus passes ~10¹³ bigrams, while
    each individual count converts to double exactly (< 2⁵³) at any
    realistic scale. min_count prunes the hapax tail BEFORE
    scoring, so the join and sort see only the frequent vocabulary.

    Distributed shape: the pair counts and all three marginals are
    the shared _bigram_table (one corpus pass, checkpointed pair
    table, exact re-aggregations); two vocab-sized equi-joins (AQE
    broadcasts them when the vocabulary is small); the final top-N is
    (pmi desc, pair asc) + limit ⇒ TakeOrderedAndProject, never a
    global sort.
    Output: (w1, w2, n_pair, pmi_micro).
    """
    _, table, left, right, total = _bigram_table(docs, TEXT, DOC_ID)
    return (
        table.filter(F.col("c2") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("c2").cast("long").alias("n_pair"),
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.log(F.col("c2").cast("double"))
                    + F.log(F.col("n_total").cast("double"))
                    - F.log(F.col("c1w").cast("double"))
                    - F.log(F.col("c2w").cast("double"))
                )
            )
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(
            F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
        )
        .limit(top_n)
    )


def pii_density_by_source(docs: DataFrame) -> DataFrame:
    """Per-source PII exposure rollup — the release-gate companion of
    pii_redaction (which scrubs per document): for each ingestion
    source, how many documents carry PII at all, the per-pattern hit
    totals, and the density normalized per million characters — the
    table that decides which source needs scrubbing (or exclusion)
    before training.

    Same pattern set and counting semantics as pii_redaction
    (PII_PATTERNS, count-on-original-text); one scan-speed projection
    + one hash aggregate on the source key. pii_per_mchar is exact
    integer arithmetic: (1e6 · hits) DIV chars.

    Output: (source, n_docs, docs_with_pii, n_emails, n_ssns,
    n_phones, total_chars, pii_per_mchar).
    """
    text = F.col(TEXT)
    counts = {
        f"n_{name}s": F.size(
            F.regexp_extract_all(text, F.lit(pat), F.lit(0))
        ).cast("long")
        for name, pat, _ in PII_PATTERNS
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    per_doc = ensure_parallelism(docs).select(
        F.col(SOURCE).alias("source"),
        F.length(text).cast("long").alias("__chars"),
        *[c.alias(n) for n, c in counts.items()],
        total.alias("__pii"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__pii") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_pii"),
            *[
                F.sum(n).cast("long").alias(n)
                for n in counts
            ],
            F.sum("__chars").cast("long").alias("total_chars"),
            F.sum("__pii").cast("long").alias("__pii_sum"),
        )
        .select(
            "source", "n_docs", "docs_with_pii",
            *counts,
            "total_chars",
            # greatest(·,1): a source of all-empty texts has
            # total_chars = 0 — Spark DIV would yield NULL while the
            # DuckDB oracle's // raises; both sides guard identically
            F.expr("(1000000 * __pii_sum) DIV greatest(total_chars, 1)")
            .alias("pii_per_mchar"),
        )
    )


def quality_dup_matrix(docs: DataFrame) -> DataFrame:
    """Quality × duplication joint profile: exact-duplicate rate per
    type-token-ratio decile — the cross-family audit that answers
    "is the low-quality tail also the duplicated tail?" (usually
    yes: template/boilerplate pages are both repetitive and
    duplicated, so curation thresholds should be set jointly, not
    per-filter).

    Per doc: ttr_ppm = floor(1e6·distinct/tokens) (exact integers)
    and is_dup = its normalized sha256 occurs >1× in the corpus —
    computed as a window count over the hash partitioning (ONE
    shuffle on the uniform 32-byte key; partition size = dup
    multiplicity; an aggregate + re-join shape would scan the corpus
    twice). The narrow (ttr_ppm, is_dup) relation is checkpointed so
    the percentile pass and the rollup don't each replay the
    tokenize+hash scan. Decile edges are the broadcast
    percentile(ttr_ppm, 0.1..0.9) array (the length_deciles idiom —
    no global-sort ntile); bucket assignment is a row-local
    comparison fold. Output per decile: (decile, n_docs, dup_docs,
    dup_ppm, min_ttr_ppm, max_ttr_ppm).
    """
    from pyspark.sql import Window
    from iceberg_diag_spark.operators.dedup import normalized_text

    t = tokens(F.col(TEXT))
    base = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        # distinct count casts to long BEFORE the 1e6 multiply —
        # the int32 product wraps (ANSI: throws) past 2147 distinct
        # tokens per doc
        F.floor(
            F.lit(1_000_000)
            * F.size(F.array_distinct(t)).cast("long")
            / F.greatest(F.size(t), F.lit(1))
        )
        .cast("long")
        .alias("ttr_ppm"),
        F.sha2(normalized_text(F.col(TEXT)), 256).alias("__h"),
    )
    wh = Window.partitionBy("__h")
    marked = base.select(
        "ttr_ppm",
        (F.count(F.lit(1)).over(wh) > 1).cast("long").alias("is_dup"),
    )
    marked = materialize(marked)
    qs = marked.agg(
        F.expr(
            "percentile(ttr_ppm, array("
            + ", ".join(str(i / 10) for i in range(1, 10))
            + "))"
        ).alias("qs")
    )
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (
            F.col("ttr_ppm") > F.element_at(F.col("qs"), i + 1)
        ).cast("int")
    return (
        marked.crossJoin(F.broadcast(qs))
        .select(decile.cast("long").alias("decile"), "ttr_ppm", "is_dup")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("dup_docs"),
            F.min("ttr_ppm").cast("long").alias("min_ttr_ppm"),
            F.max("ttr_ppm").cast("long").alias("max_ttr_ppm"),
        )
        .select(
            "decile",
            "n_docs",
            "dup_docs",
            F.expr("(1000000 * dup_docs) DIV n_docs").alias("dup_ppm"),
            "min_ttr_ppm",
            "max_ttr_ppm",
        )
    )


def _gram_run_stats_expr(grams_col: str) -> str:
    """SQL-string aggregate over a SORTED gram array returning
    struct(bc: top gram count, bg: top gram or null, dc: char mass of
    repeat occurrences). Sorting makes equal grams adjacent, so one
    linear fold computes per-gram counts with zero shuffle; the
    strict `>` on run close means the lexically smallest gram wins
    count ties (the array is ascending), keeping the answer
    deterministic. One-shot SQL string (not a py4j literal tree) per
    the expression-construction playbook."""
    return f"""
    aggregate(
      {grams_col},
      named_struct('prev', cast(null as string), 'run', 0L,
                   'bc', 0L, 'bg', cast(null as string), 'dc', 0L),
      (a, x) -> if(a.prev is not null and x = a.prev,
        named_struct('prev', a.prev, 'run', a.run + 1L,
                     'bc', a.bc, 'bg', a.bg, 'dc', a.dc),
        named_struct('prev', x, 'run', 1L,
                     'bc', if(a.run > a.bc, a.run, a.bc),
                     'bg', if(a.run > a.bc, a.prev, a.bg),
                     'dc', a.dc + if(a.run > 1L,
                                     (a.run - 1L) * length(a.prev), 0L))),
      a -> named_struct(
        'bc', if(a.run > a.bc, a.run, a.bc),
        'bg', if(a.run > a.bc, a.prev, a.bg),
        'dc', a.dc + if(a.run > 1L, (a.run - 1L) * length(a.prev), 0L))
    )"""


def doc_repetition_profile(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition profile (Rae et al.
    2021 §A1.1): the standard "is this page machine-generated /
    boilerplate?" curation signals — the character fraction of the
    most frequent word 2-gram and 3-gram, and the character mass of
    repeated 5-gram occurrences. Documents failing these go to the
    repetition filter before training.

    Exact integer metrics per doc over normalized tokens:
      top{2,3}gram_ppm = 1e6·count·chars(gram) DIV chars(norm text)
      dup5_ppm         = 1e6·Σ_{g:c>1}(c−1)·chars(g) DIV chars
    (dup5 counts repeat occurrences' char mass, overlap NOT unioned —
    documented simplification of Gopher's interval-union variant).
    repetitive flag: top2 > 18% or dup5 > 15% (Gopher's thresholds);
    the top2 arm additionally requires count ≥ 2 — a phrase that
    occurs ONCE in a short doc can clear 18% by char mass alone, and
    a single occurrence is by definition not repetition.

    100 TB shape: ZERO shuffle — every metric is a row-local fold:
    gram arrays via slice/transform, then one linear aggregate() over
    the array_sort'ed grams (equal grams adjacent → per-gram counts
    without a groupBy). The whole plan is scan → project; no
    explode-shuffle on (doc, gram) like the corpus-level ngram ops
    need. Cost is O(L log L) per row in the sort, bounded by doc
    length, embarrassingly parallel.
    """
    from iceberg_diag_spark.operators.dedup import normalized_text

    base = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        tokens(F.col(TEXT)).alias("__t"),
        F.length(normalized_text(F.col(TEXT))).cast("long").alias("__tc"),
    )
    for n in (2, 3, 5):
        base = base.withColumn(
            f"__g{n}",
            F.expr(
                f"array_sort(case when size(__t) >= {n} then "
                f"transform(sequence(1, size(__t) - {n - 1}), "
                f"i -> array_join(slice(__t, i, {n}), ' ')) "
                "else array() end)"
            ),
        )
    stats = base.select(
        DOC_ID,
        F.size("__t").cast("long").alias("n_words"),
        F.col("__tc").alias("n_chars"),
        F.expr(_gram_run_stats_expr("__g2")).alias("__s2"),
        F.expr(_gram_run_stats_expr("__g3")).alias("__s3"),
        F.expr(_gram_run_stats_expr("__g5")).alias("__s5"),
    )
    top2_ppm = F.expr(
        "(1000000 * __s2.bc * length(coalesce(__s2.bg, ''))) "
        "DIV greatest(n_chars, 1)"
    )
    top3_ppm = F.expr(
        "(1000000 * __s3.bc * length(coalesce(__s3.bg, ''))) "
        "DIV greatest(n_chars, 1)"
    )
    dup5_ppm = F.expr("(1000000 * __s5.dc) DIV greatest(n_chars, 1)")
    return (
        stats.select(
            DOC_ID,
            "n_words",
            "n_chars",
            F.coalesce(F.col("__s2.bg"), F.lit("")).alias("top_bigram"),
            F.col("__s2.bc").cast("long").alias("top_bigram_cnt"),
            top2_ppm.cast("long").alias("top_bigram_ppm"),
            top3_ppm.cast("long").alias("top_trigram_ppm"),
            dup5_ppm.cast("long").alias("dup5_ppm"),
            (
                ((top2_ppm > 180_000) & (F.col("__s2.bc") >= 2))
                | (dup5_ppm > 150_000)
            ).alias("repetitive"),
        )
        .orderBy(DOC_ID)
    )


def with_repetitive_flag(df: DataFrame) -> DataFrame:
    """Append the doc_repetition_profile `repetitive` flag as a
    column without the profile's full output contract — the shared
    gate both the batch profile consumers and the STREAMING
    repetition monitor ride, so batch and stream can never disagree
    about what "repetitive" means. Same thresholds, same one-shot
    fold expressions (top-bigram arm needs count ≥ 2, dup-5gram arm
    is pure char mass); row-local, stateless, stream-safe.
    """
    from iceberg_diag_spark.operators.dedup import normalized_text

    staged = df.withColumns(
        {
            "__rt": tokens(F.col(TEXT)),
            "__rtc": F.length(normalized_text(F.col(TEXT))).cast(
                "long"
            ),
        }
    ).withColumns(
        {
            "__rg2": F.expr(
                "array_sort(case when size(__rt) >= 2 then "
                "transform(sequence(1, size(__rt) - 1), "
                "i -> array_join(slice(__rt, i, 2), ' ')) "
                "else array() end)"
            ),
            "__rg5": F.expr(
                "array_sort(case when size(__rt) >= 5 then "
                "transform(sequence(1, size(__rt) - 4), "
                "i -> array_join(slice(__rt, i, 5), ' ')) "
                "else array() end)"
            ),
        }
    ).withColumns(
        {
            "__rs2": F.expr(_gram_run_stats_expr("__rg2")),
            "__rs5": F.expr(_gram_run_stats_expr("__rg5")),
        }
    )
    flag = (
        (
            F.expr(
                "(1000000 * __rs2.bc * length(coalesce(__rs2.bg, ''))) "
                "DIV greatest(__rtc, 1)"
            )
            > 180_000
        )
        & (F.col("__rs2.bc") >= 2)
    ) | (
        F.expr("(1000000 * __rs5.dc) DIV greatest(__rtc, 1)") > 150_000
    )
    return staged.withColumn("__repetitive", flag).drop(
        "__rt", "__rtc", "__rg2", "__rg5", "__rs2", "__rs5"
    )


def token_zipf_curve(docs: DataFrame, k: int = 50) -> DataFrame:
    """Zipf rank-frequency curve head: the top-k corpus tokens with
    exact occurrence counts, per-million share, and CUMULATIVE share
    — the one-page vocabulary-concentration audit (how much of the
    token stream do the k most common types absorb?) that sizes
    stopword lists and sets BPE vocab expectations.

    100 TB shape: one tokenize+explode scan into a (token) hash
    aggregate (_token_counts; map-side partial combine absorbs the
    heavy hitters — exactly the keys that matter here), then the
    Zipf head (_zipf_head), TakeOrderedAndProject for the global
    top-k: per-partition partial top-k, k·p-row merge on the driver
    side of the exchange, never a full vocab sort. The
    corpus total re-aggregates the vocab-size counts relation (NOT
    the corpus): counts is materialized so the tokenize scan
    runs once — vocab is orders of magnitude smaller than the
    corpus, the standard trade (see README scale note on
    materializing shared subplans). The rank/cumsum window runs over
    the k survivors only.
    """
    counts = materialize(_token_counts(docs, TEXT))
    total = counts.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("__total")
    )
    return (
        _zipf_head(counts, k)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "cnt",
            F.expr(
                "cast((cast(cnt as decimal(38,0)) * 1000000)"
                " DIV __total as long)"
            ).alias("share_ppm"),
            F.expr(
                "cast((sum(cast(cnt as decimal(38,0)))"
                " over (order by rank) * 1000000)"
                " DIV __total as long)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("rank")
    )


def text_artifact_audit(docs: DataFrame) -> DataFrame:
    """Extraction-artifact audit per source: counts of the junk a
    bad HTML→text extractor leaves behind — entity escapes (&amp;
    &lt; …), leftover tags (<div …), raw URLs, control characters,
    and digit-heavy noise. A source whose artifact density jumps
    after an extractor change is the #1 silent corpus regression;
    this is the per-source scorecard that catches it at scan speed.

    All counters are JVM regexp_count / length expressions (exact
    integers, no UDF), folded row-locally, then ONE hash aggregate
    on the source key. Densities are per million chars with the
    usual zero guard. Output per source: (source, n_docs,
    total_chars, entity_hits, tag_hits, url_hits, ctrl_hits,
    digit_chars, artifact_ppm, digit_ppm).
    """
    t = F.col(TEXT)
    per_doc = ensure_parallelism(docs).select(
        F.col(SOURCE).alias("source"),
        F.length(t).cast("long").alias("__chars"),
        F.regexp_count(t, F.lit(r"&(amp|lt|gt|quot|nbsp|#\d+);"))
        .cast("long")
        .alias("__ent"),
        F.regexp_count(t, F.lit(r"<[a-zA-Z/][^>]*>"))
        .cast("long")
        .alias("__tag"),
        F.regexp_count(t, F.lit(r"https?://[^\s]+"))
        .cast("long")
        .alias("__url"),
        F.regexp_count(t, F.lit(r"[\x00-\x08\x0b\x0c\x0e-\x1f]"))
        .cast("long")
        .alias("__ctl"),
        F.regexp_count(t, F.lit(r"[0-9]")).cast("long").alias("__dig"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__chars").cast("long").alias("total_chars"),
            F.sum("__ent").cast("long").alias("entity_hits"),
            F.sum("__tag").cast("long").alias("tag_hits"),
            F.sum("__url").cast("long").alias("url_hits"),
            F.sum("__ctl").cast("long").alias("ctrl_hits"),
            F.sum("__dig").cast("long").alias("digit_chars"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "entity_hits",
            "tag_hits",
            "url_hits",
            "ctrl_hits",
            "digit_chars",
            F.expr(
                "(1000000 * (entity_hits + tag_hits + url_hits"
                " + ctrl_hits)) DIV greatest(total_chars, 1)"
            ).alias("artifact_ppm"),
            F.expr(
                "(1000000 * digit_chars) DIV greatest(total_chars, 1)"
            ).alias("digit_ppm"),
        )
        .orderBy("source")
    )


def source_length_ks(docs: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test, one test per source:
    is this source's document-length distribution different from the
    REST of the corpus? The standard pre-mix distribution check a
    curation pipeline runs when a new crawl/source lands — length is
    the cheapest strong proxy for extraction and content drift
    (truncation bugs, boilerplate floods, and format changes all move
    it first).

    Exact integers end-to-end: with n_s docs in the source, n_r in
    the rest, and cum_s(v)/cum_r(v) the counts at or below length v,
    the KS sup-distance numerator is
        d_num = max over v of |cum_s(v)*n_r - cum_r(v)*n_s|
    (the true D = d_num/(n_s*n_r); the sup is attained on the global
    value grid, so ECDFs are evaluated at every distinct length).
    The 95% rejection uses the asymptotic two-sample threshold
    c(.05)=1.358: D > c*sqrt((n_s+n_r)/(n_s*n_r)) cross-multiplied
    into the exact integer comparison
        1e6 * d_num^2 > 1844164 * (n_s+n_r) * n_s * n_r,
    evaluated in DECIMAL(38,0) (exact while n_s*n_r < ~1e16 — any
    real per-source split; int64 would wrap at ~3e9 docs).

    Scale shape: one corpus shuffle to (source, length) counts; all
    later relations are metadata-scale (|sources| x |distinct
    lengths|). The global-grid ECDF windows are a single-task sort
    over <= |distinct lengths| rows (bounded by max document length,
    not corpus size) and a per-source window over the same bounded
    grid — the quality_length_skyline bounded-relation idiom.

    Output per source: (source, n_source, n_rest, d_num, d_ppm,
    reject_95).
    """
    from pyspark.sql.window import Window

    sv = (
        ensure_parallelism(docs)
        .groupBy(
            F.col(SOURCE).alias("source"), F.col(N_CHARS).alias("v")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sv = materialize(sv)
    vals = sv.groupBy("v").agg(F.sum("cnt").alias("gcnt"))
    vals = vals.withColumn(
        "cum_g",
        F.sum("gcnt").over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    srcs = sv.groupBy("source").agg(F.sum("cnt").alias("n_source"))
    grid = join_null_safe(
        vals.crossJoin(F.broadcast(srcs)), sv, ["source", "v"], "left"
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ecdf = grid.select(
        "source",
        "n_source",
        "v",
        "cum_g",
        F.sum(F.coalesce(F.col("cnt"), F.lit(0))).over(w).alias("cum_s"),
    )
    total = sv.agg(F.sum("cnt").alias("n_total"))
    out = (
        ecdf.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_source",
            (F.col("n_total") - F.col("n_source")).alias("n_rest"),
            F.abs(
                F.col("cum_s") * (F.col("n_total") - F.col("n_source"))
                - (F.col("cum_g") - F.col("cum_s")) * F.col("n_source")
            ).alias("dn"),
        )
        .groupBy("source", "n_source", "n_rest")
        .agg(F.max("dn").alias("d_num"))
    )
    return out.select(
        "source",
        F.col("n_source").cast("long").alias("n_source"),
        F.col("n_rest").cast("long").alias("n_rest"),
        F.col("d_num").cast("long").alias("d_num"),
        F.expr(
            "CAST((1000000 * d_num) DIV (n_source * n_rest) AS BIGINT)"
        ).alias("d_ppm"),
        F.expr(
            "CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000"
            " > CAST(1844164 AS DECIMAL(38,0))"
            " * (n_source + n_rest) * n_source * n_rest"
        ).alias("reject_95"),
    )


def bigram_kneser_ney(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    every serious n-gram LM ships (and the quality bar for "is this
    corpus's bigram table usable as a cheap perplexity scorer"):
    P_KN(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
                + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··),
    with discount d = 3/4 and the characteristic CONTINUATION
    distribution (how many distinct left contexts a word follows —
    "San Francisco" keeps "Francisco" from looking generally
    probable). The MLE column sits alongside so the smoothing shift
    is visible per bigram.

    Integer-exact: d = 3/4 works in quarters (4c − 3 ≥ 1 for every
    observed bigram, so the max() never binds), each of the two
    terms floors once to ppm — term1 = 1e6·(4c−3) DIV (4·c(w1·)),
    term2 = 1e6·3·N1+(w1·)·N1+(·w2) DIV (4·c(w1·)·N1+(··)), the
    second in DECIMAL(38,0) (vocabulary-squared numerators pass
    int64 around |V| ≈ 10⁵·√3). Deterministic both engines.

    Scale: bigram, context and continuation counts are the shared
    _bigram_table (hash aggregates on uniform keys off the codegen
    shingle path); the distinct-bigram total is a broadcast 1-row
    scalar; output is the 100 bigram rows by count
    (TakeOrderedAndProject — map-side partial top-k, count then gram
    as the deterministic tie-break).

    Output: (gram, n_pair, n_left_total, mle_ppm, kn_ppm).
    """
    _, table, left, right, total = _bigram_table(docs, TEXT, DOC_ID)
    return (
        table.join(left, "w1")
        .join(right, "w2")
        .join(F.broadcast(total))
        .select(
            "gram",
            F.col("c2").cast("long").alias("n_pair"),
            F.col("c1w").cast("long").alias("n_left_total"),
            F.expr("CAST(1000000 * c2 DIV c1w AS BIGINT)").alias(
                "mle_ppm"
            ),
            F.expr(_KN_SEEN_PPM).alias("kn_ppm"),
        )
        .orderBy(F.desc("n_pair"), F.asc("gram"))
        .limit(100)
    )


def doc_kn_nll(docs: DataFrame) -> DataFrame:
    """Per-document negative log-likelihood against the corpus's own
    interpolated Kneser-Ney bigram table — the CCNet quality filter's
    scoring step (Wenzek et al.: rank documents by LM perplexity,
    keep/drop by per-source bands). The shipped LM table is PRUNED at
    2 occurrences (real n-gram tables drop singletons), so a
    document full of never-repeated bigrams pays the unseen-bigram
    backoff on every position and lands in the worst band — exactly
    the word-salad signal the filter exists for.

    Per-bigram probability, all in ppm:
      seen  (corpus count ≥ 2): the bigram_kneser_ney P_KN
             (_KN_SEEN_PPM: d = 3/4 discount + continuation
             interpolation);
      unseen (pruned): the discounted continuation-unigram backoff
             d·P_cont(w2) = (3·N1+(·w2)) / (4·N1+(··)),
    floored at 1 ppm so ln never sees zero. Because the table is
    trained on the scored corpus itself, "in the table" is exactly
    "corpus count ≥ 2" — the CASE needs no membership join.

    Scale: bigram and context counts are the shared _bigram_table
    (uniform keys, map-side combine); per-distinct-gram scores are
    computed once and joined back to the (doc, gram) occurrence
    relation on the uniform gram key (_doc_sum), linear in corpus
    tokens. NLL floors once per
    position to micro-nats; per-doc sums and the DIV average are
    exact integers. Docs with fewer than two tokens emit no bigrams
    and are absent (shingle-source contract).

    Output: (doc_id, source, n_bigrams, nll_micro, avg_nll_micro).
    """
    bg, table, left, right, total = _bigram_table(docs, TEXT, DOC_ID)
    gram_scores = (
        table.join(left, "w1")
        .join(right, "w2")
        .join(F.broadcast(total))
        .select(
            "gram",
            F.expr(
                "greatest(CAST(1 AS BIGINT), CASE WHEN c2 >= 2"
                f" THEN {_KN_SEEN_PPM}"
                " ELSE CAST(3000000 * n1p_w2 DIV (4 * ntot) AS BIGINT)"
                " END)"
            ).alias("p_ppm"),
        )
        .select(
            "gram",
            F.floor(
                -F.log(F.col("p_ppm") / F.lit(1_000_000.0))
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    per_doc = _doc_sum(
        bg, gram_scores, "gram", DOC_ID, "nll_micro", "n_bigrams", "nll_micro"
    )
    return (
        per_doc.join(
            docs.select(F.col(DOC_ID), F.col(SOURCE).alias("source")),
            DOC_ID,
        )
        .select(
            DOC_ID,
            "source",
            "n_bigrams",
            "nll_micro",
            F.expr("nll_micro DIV n_bigrams").cast("long").alias(
                "avg_nll_micro"
            ),
        )
    )


def doc_kn_perplexity(docs: DataFrame) -> DataFrame:
    """Per-source perplexity bands over doc_kn_nll — the CCNet
    keep/drop decision table: documents ranked by average per-bigram
    NLL within their source and cut into 10 equal-population
    bands (band 1 = most fluent / head, band n = worst tail; CCNet
    keeps head+middle and drops the tail). Banding WITHIN source
    matters because NLL is not comparable across domains — the
    source_quality_calibration argument.

    Distributed shape: the per-source ranking is the count mode of
    shuffling.grouped_prefix_sum (approx-percentile range shards per
    source — accuracy affects only load balance — exact within-shard
    windows, broadcast cumulative offsets), never a one-task-per-
    source window. Band assignment replicates NTILE exactly from
    (rank, n_s) arithmetic: the first n_s mod k bands hold
    ceil(n_s/k) docs — integer-exact, so the oracle's plain ntile()
    hash-matches.

    Output per (source, band): (source, band, n_docs,
    lo_avg_nll_micro, hi_avg_nll_micro).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    # three consumers (percentile edges, shard totals, the ranked base)
    scored = materialize(doc_kn_nll(docs))
    k = 10
    ranked = grouped_prefix_sum(
        scored, ["source"], ["avg_nll_micro", DOC_ID], n_shards=N_SHARDS
    ).select(
        "source",
        "avg_nll_micro",
        (F.col("prefix") + 1).alias("rnk"),
        F.col("prefix_total").alias("n_s"),
    )
    # exact NTILE(k): sz = n DIV k, rem = n % k; the first rem bands
    # take sz+1 rows. When n < k, sz = 0 and cut = n, so every rank
    # stays in the WHEN branch — no division by zero.
    band = F.expr(
        f"CASE WHEN rnk <= (n_s % {k}) * (n_s DIV {k} + 1)"
        f" THEN (rnk - 1) DIV (n_s DIV {k} + 1) + 1"
        f" ELSE (n_s % {k})"
        f"   + (rnk - 1 - (n_s % {k}) * (n_s DIV {k} + 1)) DIV (n_s DIV {k})"
        f"   + 1 END"
    )
    return (
        ranked.select("source", "avg_nll_micro", band.cast("long").alias("band"))
        .groupBy("source", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("avg_nll_micro").cast("long").alias("lo_avg_nll_micro"),
            F.max("avg_nll_micro").cast("long").alias("hi_avg_nll_micro"),
        )
    )


def quality_psi_drift(docs_old: DataFrame, docs_new: DataFrame) -> DataFrame:
    """Population Stability Index of the quality-classifier score
    between two corpus releases — the standard "did the curation
    signal's distribution move?" gate (PSI < 0.1 stable, > 0.25 act)
    run before trusting a threshold tuned on the previous release.
    PSI = Σ_b (p_new − p_old)·ln(p_new/p_old) over fixed score
    buckets, Laplace-smoothed (+1 per observed bucket) so an empty
    cell contributes a finite penalty instead of ±∞.

    Determinism: buckets are fixed-grid integers — z_micro shifts
    non-negative BEFORE the integral divide, so truncation equals
    floor on both engines (negative DIV truncates toward zero in
    Spark but floors in DuckDB); shares divide exact integer counts
    as doubles and each bucket's PSI term floors once to micro-units
    (the bigram_logprob ln-floor precedent). Both snapshots are one
    zero-shuffle scoring scan plus a bucket-cardinality aggregate;
    the join and windows run on the ≤|grid| bucket relation
    (SCALING.md §5).

    Output per bucket: (bucket, n_old, n_new, psi_micro) — total PSI
    is the column sum; bucket = (z_micro + 20000000) DIV 500000.
    """
    from pyspark.sql.window import Window

    # Tagged union instead of per-side histograms + full-outer join:
    # one map-side-combined aggregate on the bucket key replaces two
    # groupBy shuffles plus a sort-both-sides SMJ of the bucket
    # relations (full-outer can't broadcast), and the outer-join
    # coalesce falls out for free.
    def bucket_rows(docs, side):
        return quality_classifier_score(docs).select(
            F.expr(
                "CAST((z_micro + 20000000) DIV 500000"
                " AS BIGINT)"
            ).alias("bucket"),
            F.lit(side).alias("__side"),
        )
    j = (
        bucket_rows(docs_old, 0)
        .unionByName(bucket_rows(docs_new, 1))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_old"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    wall = Window.partitionBy()
    smoothed = j.select(
        "bucket",
        "n_old",
        "n_new",
        (
            (F.col("n_old") + 1).cast("double")
            / (F.sum("n_old").over(wall) + F.count(F.lit(1)).over(wall))
        ).alias("p_old"),
        (
            (F.col("n_new") + 1).cast("double")
            / (F.sum("n_new").over(wall) + F.count(F.lit(1)).over(wall))
        ).alias("p_new"),
    )
    return smoothed.select(
        "bucket",
        "n_old",
        "n_new",
        F.floor(
            (F.col("p_new") - F.col("p_old"))
            * F.log(F.col("p_new") / F.col("p_old"))
            * F.lit(1_000_000.0)
        ).cast("long").alias("psi_micro"),
    )
