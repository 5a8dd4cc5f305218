"""Driver-facing catalog, part 2: training-data pipeline operators
(dedup, similarity search, text analysis, multimodal, pages suite).

Same oracle pattern as queries.py: exact/deterministic operators get a
DuckDB ANSI-SQL oracle (value-hash compared by the driver); probabilistic
operators (MinHash-LSH, SimHash, IVF) are rows-only here and get their
recall/precision contracts pytest-checked against planted duplicates
(tests/test_dataops.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from bloomfilter_spark.functions.textstats import (
    LANG_MARKERS,
    lang_id,
    quality_features,
    token_count,
    with_fingerprints,
)
from bloomfilter_spark.operators.ann import (
    brute_topk,
    ivf_topk,
    neardup_pairs,
    neardup_srp_verified,
)
from bloomfilter_spark.operators.dedup import (
    minhash_dedup_pairs,
    minhash_dedup_pairs_verified,
    ngram_jaccard_pairs,
    simhash_dedup_pairs_sql,
)
from bloomfilter_spark.operators.multimodal import (
    byte_histogram_features,
    sample_frames,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Text analysis (pure Catalyst → exact SQL oracles)
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


_TOKEN_STATS_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END)
            AS BIGINT) AS total_tokens,
       ROUND(AVG(length(text)), 4) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # NULL text scores as empty text (oracle mirrors the COALESCE)
    return (
        quality_features(
            docs.select(
                "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
            )
        )
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            "punct_ratio",
            "digit_ratio",
            "alpha_ratio",
            "stopword_ratio",
            "quality_ok",
        )
        .orderBy("doc_id")
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters — the quality dimension C4/Gopher
    actually drop documents on (dup n-grams, dominant token)."""
    from bloomfilter_spark.functions.textstats import repetition_features

    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_features(
            docs.select(
                "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
            )
        )
        .select(
            "doc_id",
            "n_tokens",
            "uniq_token_ratio",
            "dup_trigram_ratio",
            "top_token_ratio",
            "repetition_ok",
        )
        .orderBy("doc_id")
    )


# rid: per-row key so NULL doc_ids neither merge nor lose their ratios
# at the join-back (the Spark operator is map-only per row)
_TEXT_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY doc_id NULLS FIRST, text NULLS FIRST)
           AS rid,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
  FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
), tri AS (
  SELECT rid, COUNT(*) AS total_tri, COUNT(DISTINCT s) AS distinct_tri
  FROM (
    SELECT rid, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
    FROM toks, UNNEST(range(len(t) - 2)) AS u(i) WHERE len(t) >= 3
  ) GROUP BY 1
), top AS (
  SELECT rid, MAX(c) AS topc FROM (
    SELECT rid, tok, COUNT(*) AS c
    FROM (SELECT rid, UNNEST(t) AS tok FROM toks) GROUP BY 1, 2
  ) GROUP BY 1
), r AS (
  SELECT b.doc_id,
         CAST(len(b.t) AS BIGINT) AS n_tokens,
         CASE WHEN len(b.t) = 0 THEN 1.0
              ELSE ROUND(len(list_distinct(b.t))
                         / CAST(GREATEST(len(b.t), 1) AS DOUBLE), 6) END
           AS uniq_token_ratio,
         CASE WHEN COALESCE(tri.total_tri, 0) > 0
              THEN ROUND(1.0 - CAST(tri.distinct_tri AS DOUBLE)
                               / CAST(tri.total_tri AS DOUBLE), 6)
              ELSE 0.0 END AS dup_trigram_ratio,
         CASE WHEN len(b.t) = 0 THEN 0.0
              ELSE ROUND(COALESCE(top.topc, 0)
                         / CAST(GREATEST(len(b.t), 1) AS DOUBLE), 6) END
           AS top_token_ratio
  FROM toks b LEFT JOIN tri USING (rid) LEFT JOIN top USING (rid)
)
SELECT *, (dup_trigram_ratio <= 0.3 AND top_token_ratio <= 0.3)
           AS repetition_ok
FROM r ORDER BY doc_id
"""


_EN_LIST = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])

_TEXT_QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END
           AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g'))    AS digit,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t IN ({_EN_LIST})))            AS stop
  FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
)
SELECT doc_id, n_chars, n_tokens,
       ROUND(punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND(digit / GREATEST(n_chars, 1), 6) AS digit_ratio,
       ROUND(alpha / GREATEST(n_chars, 1), 6) AS alpha_ratio,
       ROUND(stop  / GREATEST(n_tokens, 1), 6) AS stopword_ratio,
       (n_tokens >= 5
        AND alpha / GREATEST(n_chars, 1) >= 0.5
        AND digit / GREATEST(n_chars, 1) <= 0.3) AS quality_ok
FROM f ORDER BY doc_id
"""


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span accounting (Lee et al. 2021):
    per-document count of token positions covered by a k-gram that repeats
    corpus-wide.  The Spark plan joins on xxhash64(kgram) (fixed-width
    shuffle keys, collision-free w.h.p.); the oracle replays the exact
    k-gram strings."""
    from bloomfilter_spark.operators.spans import duplicate_span_stats

    docs = _t(spark, sf_dir, "documents")
    return (
        duplicate_span_stats(docs, "doc_id", "text", k=4, min_count=2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


# shared CTE chain (k=4, min_count=2): tokenize → positional 4-grams →
# corpus-frequent set → distinct covered positions — used by the span
# STATS and span REMOVAL oracles.  rid (synthetic unique row key) carries
# per-document state so NULL doc_ids neither merge with each other nor
# drop their rebuilt text; the frequency vote stays corpus-wide (COUNT(*)
# over ALL rows, NULL-id included — mirroring the Spark plan), while
# covered excludes NULL-id rows, mirroring the operator's rebuild join
# on the id key (NULL never matches → identity-less rows pass through)
_SPANS_CTES = """
WITH toks AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY doc_id NULLS FIRST, text NULLS FIRST)
           AS rid,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
  FROM documents
), kg AS (
  SELECT rid, doc_id, i AS pos, array_to_string(t[i + 1 : i + 4], ' ') AS g
  FROM toks, UNNEST(range(len(t) - 3)) AS u(i) WHERE len(t) >= 4
), freq AS (
  SELECT g FROM kg GROUP BY g HAVING COUNT(*) >= 2
), covered AS (
  SELECT DISTINCT kg.rid, kg.pos + j AS p
  FROM kg JOIN freq USING (g), UNNEST(range(4)) AS v(j)
  WHERE kg.doc_id IS NOT NULL
), per_doc AS (
  SELECT rid, COUNT(*) AS n_dup_tokens FROM covered GROUP BY rid
)"""

_DUP_SPANS_SQL = _SPANS_CTES + """
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       -- NULL text keeps NULL stats (operator contract: a missing
       -- document is not a 0-duplication document)
       CASE WHEN t IS NULL THEN NULL
            ELSE CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) END AS n_dup_tokens,
       CASE WHEN t IS NULL THEN NULL
            WHEN len(t) = 0 THEN 0.0
            ELSE ROUND(COALESCE(n_dup_tokens, 0) / len(t), 6)
       END AS dup_ratio
FROM toks LEFT JOIN per_doc USING (rid)
ORDER BY toks.doc_id
"""

_SPAN_REMOVAL_SQL = _SPANS_CTES + """
, pos AS (
  SELECT rid, i, t[i + 1] AS tok
  FROM toks, UNNEST(range(len(t))) AS u(i)
), kept AS (
  SELECT p.rid, p.i, p.tok
  FROM pos p LEFT JOIN covered c ON c.rid = p.rid AND c.p = p.i
  WHERE c.p IS NULL
), rebuilt AS (
  SELECT rid, string_agg(tok, ' ' ORDER BY i) AS text_clean
  FROM kept GROUP BY rid
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       -- NULL text stays NULL end-to-end (operator contract): a missing
       -- document is NOT a fully-deduplicated one
       CASE WHEN t IS NULL THEN NULL
            ELSE CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) END AS n_removed,
       CASE WHEN t IS NULL THEN NULL
            ELSE COALESCE(rebuilt.text_clean, '') END AS text_clean
FROM toks
LEFT JOIN per_doc USING (rid)
LEFT JOIN rebuilt USING (rid)
ORDER BY toks.doc_id
"""


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span DELETION (not just stats): rewrite every
    document with its corpus-duplicated 4-gram spans removed.  The oracle
    rebuilds each cleaned string token-for-token, so the rewrite is
    value-checked character-exact."""
    from bloomfilter_spark.operators.spans import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, "doc_id", "text", k=4, min_count=2)
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: fit a bigram stupid-backoff model
    on the English slice of the corpus, score EVERY document by mean
    per-token log10 probability and perplexity.  Pure Catalyst — two
    count aggregations for the model, hash joins on 8-byte word-hash
    keys for scoring; the oracle replays the identical arithmetic on the
    raw word strings."""
    from bloomfilter_spark.operators.lm import fit_bigram_lm, perplexity_score

    docs = _t(spark, sf_dir, "documents")
    lm = fit_bigram_lm(docs.filter(F.col("lang") == "en"), "text")
    return (
        perplexity_score(docs, "doc_id", "text", lm)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


_LM_PERPLEXITY_SQL = """
WITH toks AS (
  -- list_filter replays the operator's tokens_nonempty rule: boundary
  -- tab/newline whitespace must not mint phantom '' tokens
  SELECT doc_id, lang,
         list_filter(
           CASE WHEN length(trim(COALESCE(text, ''))) = 0
                THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(lower(trim(text)), '\\s+') END,
           x -> x <> '') AS t
  FROM documents
), ref AS (
  SELECT t FROM toks WHERE lang = 'en'
), uni AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT UNNEST(t) AS tok FROM ref) GROUP BY tok
), tot AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS DOUBLE) AS n FROM uni
), bi AS (
  SELECT w1, w2, COUNT(*) AS c FROM (
    SELECT t[i + 1] AS w1, t[i + 2] AS w2
    FROM ref, UNNEST(range(len(t) - 1)) AS u(i) WHERE len(t) >= 2
  ) GROUP BY w1, w2
), pairs AS (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks, UNNEST(range(len(t) - 1)) AS u(i) WHERE len(t) >= 2
), scored AS (
  SELECT p.doc_id,
         LOG10(CASE WHEN bi.c IS NOT NULL THEN bi.c * 1.0 / u1.c
                    ELSE 0.4 * COALESCE(u2.c, 0.4) / tot.n END) AS logp
  FROM pairs p
  LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
  LEFT JOIN uni u1 ON u1.tok = p.w1
  LEFT JOIN uni u2 ON u2.tok = p.w2
  CROSS JOIN tot
), agg AS (
  SELECT doc_id, COUNT(*) AS n_scored, ROUND(AVG(logp), 6) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_scored, 0) AS BIGINT) AS n_scored,
       avg_logp,
       ROUND(POWER(10, -avg_logp), 6) AS ppl
FROM toks LEFT JOIN agg USING (doc_id)
ORDER BY toks.doc_id
"""


def q_line_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/MassiveText boilerplate-LINE removal: drop every line
    whose normalized form appears in >= 2 distinct documents, keep the
    rest of each document intact (order and bytes preserved).  The
    synthetic documents are single-line, so the query first reflows each
    document into 8-token lines with the library-wide tokenization rule —
    a deterministic transform the oracle replays exactly; repeated
    8-token runs across documents then play the boilerplate role.  The
    oracle rebuilds every cleaned document string character-exact."""
    from bloomfilter_spark.operators.linededup import remove_duplicate_lines

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        .withColumn(
            "toks",
            F.when(
                F.length(F.trim("text")) == 0, F.array().cast("array<string>")
            ).otherwise(F.split(F.lower(F.trim("text")), r"[ \t\n\f\r]+")),
        )
        .withColumn("nl", F.ceil(F.size("toks") / F.lit(8.0)).cast("int"))
    )
    reflowed = docs.select(
        "doc_id",
        F.when(F.col("nl") == 0, F.lit(""))
        .otherwise(
            F.concat_ws(
                "\n",
                F.transform(
                    # greatest() guard: sequence(0, -1) DESCENDS
                    F.sequence(F.lit(0), F.greatest(F.col("nl"), F.lit(1)) - 1),
                    lambda i: F.concat_ws(" ", F.slice("toks", i * 8 + 1, 8)),
                ),
            )
        )
        .alias("text"),
    ).localCheckpoint(eager=False)
    # ^ the reflow is a higher-order-function transform (interpreted per
    # line) and remove_duplicate_lines reads its input twice (line split
    # + rebuild join) — checkpoint so it runs once
    out = remove_duplicate_lines(reflowed, "doc_id", "text", min_docs=2)
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


# rid (a synthetic unique row key) carries per-document state so NULL
# doc_ids neither merge with each other nor silently drop their rows; the
# boilerplate vote stays on doc_id (COUNT(DISTINCT ..) skips NULL — the
# operator's pass-through contract for identity-less rows)
_LINE_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY doc_id NULLS FIRST, text NULLS FIRST)
           AS rid,
         CASE WHEN length(trim(COALESCE(text, ''))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
  FROM documents
), lines AS (
  -- nline replays the operator's MATCHING normalization exactly
  -- (linededup._norm_line): collapse space/tab/FF/CR runs, trim,
  -- lowercase; normalized-BLANK lines neither vote nor get removed.
  -- Grouping on the raw line diverges when the reflow emits
  -- leading-empty tokens (tab-leading text: trim strips only spaces)
  -- per ADVICE r4.  NB the regex literal below embeds the control
  -- characters directly (this string is a non-raw Python literal).
  SELECT rid, doc_id, i AS pos,
         array_to_string(t[i*8 + 1 : i*8 + 8], ' ') AS line,
         trim(regexp_replace(
           lower(array_to_string(t[i*8 + 1 : i*8 + 8], ' ')),
           '[ \t\f\r]+', ' ', 'g')) AS nline
  FROM toks, UNNEST(range(CAST(CEIL(len(t) / 8.0) AS BIGINT))) AS u(i)
), boiler AS (
  SELECT nline FROM lines WHERE length(nline) > 0
  GROUP BY nline HAVING COUNT(DISTINCT doc_id) >= 2
), covered AS (
  SELECT l.rid, l.pos FROM lines l JOIN boiler USING (nline)
  WHERE l.doc_id IS NOT NULL
), per_doc AS (
  SELECT rid, COUNT(*) AS n_removed FROM covered GROUP BY rid
), rebuilt AS (
  SELECT l.rid, string_agg(l.line, chr(10) ORDER BY l.pos) AS text_clean
  FROM lines l LEFT JOIN covered c ON c.rid = l.rid AND c.pos = l.pos
  WHERE c.pos IS NULL GROUP BY l.rid
)
SELECT toks.doc_id,
       CAST(CEIL(len(t) / 8.0) AS BIGINT) AS n_lines,
       CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
       COALESCE(text_clean, '') AS text_clean
FROM toks LEFT JOIN per_doc USING (rid) LEFT JOIN rebuilt USING (rid)
ORDER BY toks.doc_id
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis over the event stream's user key: the 20 heaviest
    keys with their load share and the salt factor `salted_repartition`
    would need for each (fixed num_partitions=32 so the report is
    cluster-size-independent and SQL-replayable)."""
    from bloomfilter_spark.plans.skew import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, "user_id", num_partitions=32, top=20)


_SKEW_REPORT_SQL = """
WITH c AS (
  SELECT user_id, COUNT(*) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), t AS (SELECT SUM(n) AS total FROM c)
SELECT user_id, n AS "rows",
       ROUND(n * 1.0 / total, 6) AS share,
       CAST(GREATEST(1, (n * 32 + total - 1) // total) AS BIGINT)
         AS suggested_salts
FROM c, t
ORDER BY n DESC, user_id ASC
LIMIT 20
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (12 h inactivity gap)
    via Spark's native session_window aggregation; the oracle replays the
    merge rule with LAG + a running session counter."""
    from bloomfilter_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev, "user_id", "ts", gap="12 hours", value_col="value"
    ).orderBy("user_id", "session_idx")


_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events
  WHERE ts IS NOT NULL
), lagd AS (
  SELECT *, LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) AS prev
  FROM e
), marked AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR tus - prev > 43200 * CAST(1000000 AS BIGINT)
                 THEN 1 ELSE 0 END AS new_s
  FROM lagd
), sess AS (
  SELECT *, SUM(new_s) OVER (
    PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING
  ) AS sid
  FROM marked
)
SELECT user_id,
       CAST(sid AS INT) AS session_idx,
       MIN(tus) AS session_start_us,
       MAX(tus) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_idx
"""


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            lang_id(F.coalesce(F.col("text"), F.lit(""))).alias("lang_pred")
        )
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_pred")
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"t -> t IN ({words})))"
    )


_LANG_ID_SQL = f"""
WITH s AS (
  SELECT {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es
  FROM (SELECT COALESCE(text, '') AS text FROM documents)
), p AS (
  SELECT CASE
           WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
           WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
           WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
           WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
           ELSE 'es'
         END AS lang_pred
  FROM s
)
SELECT lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Structured Streaming (3 time-sliced
    micro-batches, append mode): session state merges across batches and
    each session is emitted exactly once when the watermark passes it; a
    far-future sentinel row flushes the tail.  The output must equal the
    BATCH sessionization bit-for-bit, so the oracle is the same LAG +
    running-sum SQL as sessionize_events."""
    import datetime
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    from bloomfilter_spark.streaming.sessions import sessionized_stream

    ev = _t(spark, sf_dir, "events")
    cache_key = f"{sf_dir}|events|sessions3"
    work = tempfile.mkdtemp(prefix="bfs_stream_sess_run_")
    name = f"bfs_q_stream_sess_{uuid.uuid4().hex[:12]}"
    try:
        if cache_key in _STAGE_CACHE:
            src = _STAGE_CACHE[cache_key]
        else:
            import atexit

            stage_dir = tempfile.mkdtemp(prefix="bfs_stream_sess_src_")
            src = f"{stage_dir}/src"
            # stage by TIME (not hash): the watermark then advances batch
            # over batch, exercising cross-batch session merge +
            # incremental emit
            lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
            span = (hi - lo) / 3
            for i in range(3):
                upper = (
                    (F.col("ts") < F.lit(lo + (i + 1) * span))
                    if i < 2
                    else (F.col("ts") <= F.lit(hi))
                )
                ev.filter(
                    (F.col("ts") >= F.lit(lo + i * span)) & upper
                ).coalesce(1).write.mode("append").parquet(src)
            sentinel = spark.createDataFrame(
                [(-1, datetime.datetime(2100, 1, 1), -1, "sentinel", 0.0, "{}")],
                ev.schema,
            )
            sentinel.coalesce(1).write.mode("append").parquet(src)
            if not _STAGE_CACHE:
                atexit.register(_cleanup_stage_cache)
            _STAGE_CACHE[cache_key] = src
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _state_partitions(spark, _STREAM_STATE_PARTITIONS):
            q = (
                sessionized_stream(
                    stream, "user_id", "ts", gap="12 hours", value_col="value"
                )
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # strip ONLY the watermark-flush sentinel: != -1 is NULL for a
        # NULL user_id and would silently drop NULL-user sessions the
        # batch path and the shared oracle both emit
        out = spark.sql(f"SELECT * FROM {name}").filter(
            ~F.col("user_id").eqNullSafe(-1)
        )
        order = Window.partitionBy("user_id").orderBy("session_start_us")
        result = out.select(
            "user_id",
            F.row_number().over(order).alias("session_idx"),
            "session_start_us",
            "session_end_us",
            "n_events",
            "sum_value",
        ).orderBy("user_id", "session_idx")
        result = result.localCheckpoint()  # materialize before sink cleanup
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass  # sink never registered (query failed before start)
        shutil.rmtree(work, ignore_errors=True)
    return result


def q_asof_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every click picks the user's most recent
    error event at-or-before it (one-shuffle union + carry-forward
    window); the oracle is DuckDB's native ASOF LEFT JOIN."""
    from bloomfilter_spark.operators.sessions import _epoch_us
    from bloomfilter_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", _epoch_us(ev, "ts").alias("ts_us")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    j = asof_join(clicks, errors, "user_id", "ts", ["value"])
    return j.select(
        "user_id",
        "event_id",
        "ts_us",
        _epoch_us(j, "ts_matched").alias("err_ts_us"),
        F.col("value_matched").alias("err_value"),
    ).orderBy("user_id", "ts_us")


_ASOF_SQL = """
WITH c0 AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT * FROM c0 WHERE ts IS NOT NULL
), e AS (
  SELECT user_id, ts, epoch_us(ts) AS err_ts_us, value
  FROM events WHERE event_type = 'error' AND ts IS NOT NULL
)
-- NULL >= x is NULL, so a NULL-ts probe matches nothing; DuckDB's native
-- ASOF instead pairs it with the latest row — carve those probes out and
-- re-attach them unmatched to pin comparison semantics
SELECT * FROM (
  SELECT c.user_id, c.event_id, c.ts_us, e.err_ts_us, e.value AS err_value
  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
  UNION ALL
  SELECT user_id, event_id, ts_us, NULL, NULL FROM c0 WHERE ts IS NULL
)
ORDER BY user_id, ts_us
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a 3-term query, ranked on the 6dp-rounded
    score with doc_id tiebreak (engine-portable cut); the oracle replays
    the identical formula with the same literal arithmetic."""
    from bloomfilter_spark.operators.search import bm25_search

    docs = _t(spark, sf_dir, "documents")
    return bm25_search(
        docs, "doc_id", "text", ["hash", "join", "vector"], topk=20
    )


def _bm25_sql_ctes(terms: list[str], topk: int) -> str:
    """The BM25 CTE chain (toks → … → bm top-k), shared literal-for-literal
    by the bm25 and hybrid-search oracles."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
  FROM documents
), base AS (
  SELECT doc_id, len(t) AS dl, t FROM toks
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base
), tf AS (
  SELECT doc_id, dl, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, UNNEST(t) AS tok FROM base)
  WHERE tok IN ({tl})
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         LN(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS contrib
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
), bm AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
         ROUND(SUM(contrib), 6) AS score
  FROM scored GROUP BY doc_id
  ORDER BY score DESC, doc_id
  LIMIT {topk}
)"""


_BM25_SQL = _bm25_sql_ctes(["hash", "join", "vector"], 20) + """
SELECT doc_id, n_hit_terms, score FROM bm ORDER BY score DESC, doc_id
"""

_HYBRID_SQL = _bm25_sql_ctes(["hash", "join", "vector"], 50) + """
, q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), s AS (
  SELECT bm.doc_id, bm.score AS bm25,
         list_cosine_similarity(q.qv, e.embedding) AS sim_raw
  FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN q
), r AS (
  SELECT doc_id, bm25, ROUND(sim_raw, 4) AS sim,
         ROW_NUMBER() OVER (ORDER BY ROUND(sim_raw, 4) DESC, doc_id) AS rank
  FROM s
)
SELECT doc_id, CAST(0 AS BIGINT) AS qid, rank, sim, bm25
FROM r WHERE rank <= 10 ORDER BY rank
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 lexical recall (top-50) → exact
    cosine rerank against the vec_id-0 embedding (top-10).  The candidate
    set broadcasts into the embedding semi-join, so the dense side never
    shuffles; the oracle replays both stages literal-for-literal."""
    from bloomfilter_spark.operators.search import hybrid_search

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qpdf = emb.filter(F.col("vec_id") == 0).toPandas()
    qpdf = qpdf.rename(columns={"vec_id": "qid", "embedding": "vector"})
    return hybrid_search(
        docs, emb, ["hash", "join", "vector"], qpdf[["qid", "vector"]],
        topk_recall=50, topk=10,
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot CDC: two deterministic snapshots carved from the
    documents fixture (membership by doc_id mod, content edit on a third
    mod) diffed into added/removed/changed/unchanged in one outer join;
    the oracle replays both snapshots and the md5 comparison."""
    from bloomfilter_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0).withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", "text").orderBy("doc_id")


_SNAPSHOT_DIFF_SQL = """
WITH o AS (
  SELECT doc_id, md5(coalesce(text, '')) AS h_old
  FROM documents WHERE doc_id % 5 <> 0
), n AS (
  SELECT doc_id,
         md5(coalesce(text, '')
             || CASE WHEN doc_id % 4 = 0 THEN ' v2' ELSE '' END) AS h_new
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h_old IS NULL THEN 'added'
            WHEN n.h_new IS NULL THEN 'removed'
            WHEN o.h_old <> n.h_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id
"""


def _iceberg_staged_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents fixture as a two-snapshot Iceberg v1 table
    (pure-Python metadata layer, sources/iceberg_meta.py): snapshot 1 =
    doc_id % 3 = 0, snapshot 2 appends the rest (NULL ids included).
    Memoized per (process, sf_dir) like the streaming sources — the table
    is immutable once built, which is exactly the property Iceberg
    snapshot pins assume."""
    import atexit
    import glob
    import tempfile

    from bloomfilter_spark.sources.iceberg_meta import IcebergMetaTable

    cache_key = f"iceberg:{sf_dir}"
    if cache_key in _STAGE_CACHE:
        return _STAGE_CACHE[cache_key]
    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="bfs_iceberg_")
    loc = f"{work}/tbl"
    tbl = IcebergMetaTable.create(loc, docs.schema)
    b1, b2 = f"{loc}/data/b1", f"{loc}/data/b2"
    docs.filter("doc_id % 3 = 0").coalesce(1).write.parquet(b1)
    tbl.append(sorted(glob.glob(f"{b1}/*.parquet")))
    docs.filter("doc_id % 3 != 0 OR doc_id IS NULL").coalesce(2).write.parquet(b2)
    tbl.append(sorted(glob.glob(f"{b2}/*.parquet")))
    if not _STAGE_CACHE:
        atexit.register(_cleanup_stage_cache)
    _STAGE_CACHE[cache_key] = loc
    return loc


def q_iceberg_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-pinned + incremental Iceberg reads, executed LIVE through
    the pure-Python metadata layer (no runtime jar): resolve snapshot 1's
    data files through version-hint → metadata.json → manifest-list →
    manifest Avro (the spec's planning walk), scan them pinned; then scan
    ONLY the files snapshot 2 appended (the changelog a resumed
    incremental build consumes).  The oracle replays both file sets as
    the mod-3 predicates the staging used — a full value check that the
    metadata walk selected exactly the right bytes."""
    from bloomfilter_spark.sources.iceberg_meta import IcebergMetaTable
    from bloomfilter_spark.sources.tables import read_pages

    loc = _iceberg_staged_table(spark, sf_dir)
    tbl = IcebergMetaTable(loc)
    s1, s2 = tbl.snapshot_ids()
    pinned = read_pages(spark, loc, snapshot_id=s1)
    appended = spark.read.parquet(*tbl.incremental_files(s1, s2))

    def _agg(df: DataFrame, part: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
                "total_chars"),
        ).withColumn("part", F.lit(part))

    return (
        _agg(pinned, "snap1")
        .unionByName(_agg(appended, "appended"))
        .select("part", "lang", "n_docs", "total_chars")
        .orderBy(F.col("part"), F.col("lang").asc_nulls_first())
    )


def q_iceberg_incremental_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance over Iceberg appends — the 100 TB
    production loop the north rule implies: a sketch built at snapshot 1
    is EXTENDED by scanning only `incremental_files(s1, s2)` (the append
    changelog from the manifest walk), never rescanning snapshot-1 bytes.
    Mergeability makes the result bit-identical to a from-scratch build
    at snapshot 2 — asserted here per sketch (HLL over doc_id, Bloom over
    doc_id) via to_bytes() equality, which is the library's canonical
    merge-order-independence contract.  The oracle replays the exact
    distinct count, the HLL bound check, and the row totals."""
    from bloomfilter_spark.operators.build import (
        bloom_factory,
        build_sketch,
        hll_factory,
    )
    from bloomfilter_spark.sources.iceberg_meta import (
        IcebergMetaTable,
        read_iceberg_meta,
    )

    loc = _iceberg_staged_table(spark, sf_dir)
    tbl = IcebergMetaTable(loc)
    s1, s2 = tbl.snapshot_ids()
    key = F.col("doc_id").isNotNull()
    snap1 = read_iceberg_meta(spark, loc, s1).filter(key)
    incr = spark.read.parquet(*tbl.incremental_files(s1, s2)).filter(key)
    full = read_iceberg_meta(spark, loc, s2).filter(key)

    n_full = full.count()
    n_distinct = full.select("doc_id").distinct().count()
    hll_fac = hll_factory(precision=12)
    bf_fac = bloom_factory(max(n_full, 1) * 2, 0.01)
    merged_h = build_sketch(snap1, "doc_id", hll_fac).merge(
        build_sketch(incr, "doc_id", hll_fac)
    )
    direct_h = build_sketch(full, "doc_id", hll_fac)
    merged_b = build_sketch(snap1, "doc_id", bf_fac).merge(
        build_sketch(incr, "doc_id", bf_fac)
    )
    direct_b = build_sketch(full, "doc_id", bf_fac)
    est = merged_h.estimate()
    # ±3σ of the published 1.04/√m relative error at p=12
    bound = 3 * 1.04 / (2 ** 6)
    row = [(
        bool(merged_h.to_bytes() == direct_h.to_bytes()),
        bool(merged_b.to_bytes() == direct_b.to_bytes()),
        bool(abs(est - n_distinct) <= bound * max(n_distinct, 1)),
        int(n_full),
    )]
    return spark.createDataFrame(
        row,
        "hll_incremental_bit_identical boolean, "
        "bloom_incremental_bit_identical boolean, "
        "hll_est_in_bound boolean, n_rows_full long",
    )


_ICEBERG_INCREMENTAL_SQL = """
SELECT TRUE AS hll_incremental_bit_identical,
       TRUE AS bloom_incremental_bit_identical,
       TRUE AS hll_est_in_bound,
       COUNT(doc_id) AS n_rows_full
FROM documents
"""


_ICEBERG_SNAPSHOT_SQL = """
SELECT 'snap1' AS part, lang, COUNT(*) AS n_docs,
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars
FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
UNION ALL
SELECT 'appended' AS part, lang, COUNT(*) AS n_docs,
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars
FROM documents WHERE doc_id % 3 <> 0 OR doc_id IS NULL GROUP BY lang
ORDER BY part, lang NULLS FIRST
"""


def q_compression_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter (zlib level 6, deterministic on
    every CPython).  rows-only by necessity — DuckDB has no zlib — with
    the values replay-pinned in pytest against python zlib directly."""
    from bloomfilter_spark.functions.textstats import compression_features

    docs = _t(spark, sf_dir, "documents")
    return compression_features(docs, "text", "doc_id").orderBy("doc_id")


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events.props JSON column
    (get_json_object — Catalyst's SIMD-JSON path, no UDF) and aggregate
    the extracted field per event type; oracle uses DuckDB's ->> JSON
    operator."""
    ev = _t(spark, sf_dir, "events")
    # try_cast, not cast: ANSI mode (Spark 4 default) raises on a
    # non-numeric value; a malformed props row must be NULL, not a crash
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_PROPS_SQL = """
WITH e AS (
  -- json_valid guard + TRY_CAST: malformed JSON and non-numeric values
  -- must become NULL (matching get_json_object + try_cast), not raise
  SELECT event_type,
         TRY_CAST((CASE WHEN json_valid(props) THEN props ->> '$.k' END)
                  AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       ROUND(AVG(k), 4) AS avg_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM e GROUP BY event_type ORDER BY event_type
"""


def q_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF doc vectors (long format) over documents; the
    oracle replays tokenize → tf/df → smooth idf → md5 dim hash →
    collision sum → L2 norm, value-for-value."""
    from bloomfilter_spark.functions.features import tfidf_vectors

    docs = _t(spark, sf_dir, "documents")
    return tfidf_vectors(docs, "doc_id", "text", dim=64).orderBy(
        "doc_id", "dim"
    )


_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM (
    SELECT doc_id,
           UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), w AS (
  SELECT doc_id,
         ('0x' || substring(md5(term), 1, 15))::BIGINT % 64 AS dim,
         SUM(tf * (LN((n_docs + 1) * 1.0 / (df + 1)) + 1.0)) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  GROUP BY 1, 2
)
SELECT doc_id, dim,
       ROUND(w / SQRT(SUM(w * w) OVER (PARTITION BY doc_id)), 6) AS w
FROM w ORDER BY doc_id, dim
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically synthesized messy URLs
    (mixed-case scheme/host, default port, trailing slashes, tracking
    params, fragment); the oracle replays every rule with the same
    regexes + list_sort."""
    from bloomfilter_spark.functions.urls import host_of, normalize_url

    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW.Example"),
            F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
            F.lit(".COM:80/Articles/Item"),
            F.col("doc_id").cast("string"),
            F.element_at(
                F.array(F.lit("/"), F.lit(""), F.lit("//")),
                (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                F.lit("?utm_source=feed&z=9&a=1&gclid=x"),
            ).otherwise(F.lit("")),
            F.lit("#section-2"),
        ).alias("url"),
    )
    return messy.select(
        "doc_id",
        normalize_url("url").alias("url_canon"),
        host_of("url").alias("host"),
    ).orderBy("doc_id")


_URL_NORMALIZE_SQL = r"""
WITH messy AS (
  SELECT doc_id,
         'HTTP://WWW.Example' || CAST(doc_id % 20 AS VARCHAR)
           || '.COM:80/Articles/Item' || CAST(doc_id AS VARCHAR)
           || (CASE doc_id % 3 WHEN 0 THEN '/' WHEN 1 THEN '' ELSE '//' END)
           || (CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&z=9&a=1&gclid=x' ELSE '' END)
           || '#section-2' AS url
  FROM documents
), s1 AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM messy
), auth AS (
  -- authority split mirrors urls.py: lowercase ONLY scheme + host[:port],
  -- userinfo passes through case-preserved; bracketed IPv6 hosts keep
  -- their full bracketed form
  SELECT doc_id, u,
         regexp_replace(
           regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)', 1),
           '^[a-zA-Z][a-zA-Z0-9+.\-]*://', '') AS authority
  FROM s1
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1))
           || CASE WHEN regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1)
                        <> '' THEN '://' ELSE '' END
           || regexp_extract(authority, '^([^/?#]*@)', 1)
           || lower(regexp_replace(authority, '^[^/?#]*@', ''))
           AS prefix,
         regexp_replace(u, '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)', '') AS rest,
         lower(CASE
           WHEN regexp_extract(u,
             '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#@]*@)?(\[[^\]/?#]*\])', 2)
             <> ''
           THEN regexp_extract(u,
             '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#@]*@)?(\[[^\]/?#]*\])', 2)
           ELSE regexp_extract(u,
             '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#@]*@)?([^/?#:]*)', 2)
         END) AS host
  FROM auth
), norm AS (
  SELECT doc_id, host,
         CASE WHEN prefix LIKE 'http://%'
                THEN regexp_replace(prefix, ':80$', '')
              WHEN prefix LIKE 'https://%'
                THEN regexp_replace(prefix, ':443$', '')
              ELSE prefix END AS prefix,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
         CASE WHEN contains(rest, '?')
              THEN regexp_replace(rest, '^[^?]*\?', '') END AS query
  FROM parts
), q AS (
  SELECT doc_id, host, prefix, path,
         array_to_string(list_sort(list_filter(
           string_split(query, '&'),
           p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid')
                     OR starts_with(p, 'gclid')) AND p <> ''
         )), '&') AS canon_q
  FROM norm
)
SELECT doc_id,
       prefix || path ||
         (CASE WHEN canon_q IS NOT NULL AND canon_q <> ''
               THEN '?' || canon_q ELSE '' END) AS url_canon,
       host
FROM q ORDER BY doc_id
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic planted PII (the
    fixture itself is clean, so the query plants one of each category
    derived from doc_id, then scrubs); oracle replays both the planting
    and the regex chain."""
    from bloomfilter_spark.functions.pii import redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1 555-01"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
            F.lit(" via 10."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".0.7 ssn 123-45-6789 done"),
        ).alias("text"),
    )
    return (
        redact_pii(planted, "text")
        .select(
            "doc_id", "n_email", "n_ip", "n_ssn", "n_phone", "redacted"
        )
        .orderBy("doc_id")
    )


_PII_PATTERNS_SQL = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN]"),
    ("phone",
     "(\\+\\d[\\d\\- ]{7,14}\\d|\\(\\d{3}\\) ?\\d{3}-\\d{4}"
     "|\\b\\d{3}-\\d{3}-\\d{4}\\b)",
     "[PHONE]"),
]


def _pii_oracle_sql() -> str:
    t = "t0"
    selects = []
    ctes = [
        """t0 AS (
  SELECT doc_id,
         text || ' reach user' || doc_id || '@mail.example.com or +1 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || ' via 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.7 ssn 123-45-6789 done' AS s
  FROM documents
)"""
    ]
    for i, (name, pat, token) in enumerate(_PII_PATTERNS_SQL):
        nxt = f"t{i + 1}"
        carried = "".join(f"{c}, " for c in selects)
        ctes.append(
            f"""{nxt} AS (
  SELECT doc_id, {carried}
         CAST(len(regexp_extract_all(s, '{pat}')) AS INTEGER) AS n_{name},
         regexp_replace(s, '{pat}', '{token}', 'g') AS s
  FROM {t}
)"""
        )
        selects.append(f"n_{name}")
        t = nxt
    cols = ", ".join(selects)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, {cols}, s AS redacted FROM {t} ORDER BY doc_id"
    )


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same BM25 query answered from a materialized bucket-partitioned
    inverted index (partition-pruned term lookup, no corpus scan) — must
    equal the scan-path answer, so it shares bm25_search's oracle."""
    import shutil
    import tempfile

    from bloomfilter_spark.operators.search import (
        bm25_search_indexed,
        write_inverted_index,
    )

    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="bfs_invidx_")
    try:
        write_inverted_index(docs, f"{work}/idx", "doc_id", "text")
        out = bm25_search_indexed(
            spark, f"{work}/idx", ["hash", "join", "vector"], topk=20
        ).localCheckpoint()  # materialize before the index dir is removed
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


_SKIP_PROBE_IDS = [3, 77, 123, 456, 999_999_999]  # last one absent


def q_bloom_skip_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar file skipping: documents written partitionBy(source)
    (the natural ingest layout), point-looked-up BY DOC ID through
    per-partition Bloom sidecars — the driver probes ~KB of sketches and
    the scan touches only candidate directories (PartitionFilters,
    pytest-pinned).  Exact after the final id filter, so the oracle is a
    plain IN-list select."""
    import shutil
    import tempfile

    from bloomfilter_spark.operators.skipindex import (
        bloom_skipping_lookup,
        write_partitioned_with_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="bfs_skipidx_")
    try:
        write_partitioned_with_bloom(docs, f"{work}/docs", "source", "doc_id")
        rows, _, _ = bloom_skipping_lookup(
            spark, f"{work}/docs", "source", "doc_id", _SKIP_PROBE_IDS
        )
        out = (
            rows.select("doc_id", "source", "n_chars")
            .orderBy("doc_id")
            .localCheckpoint()  # materialize before the dir is removed
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


_BLOOM_SKIP_SQL = f"""
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id IN ({", ".join(str(i) for i in _SKIP_PROBE_IDS)})
ORDER BY doc_id
"""


_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (RAG/embedding prep), map-only;
    the oracle regenerates every window with range()/list_slice and
    value-checks each chunk string."""
    from bloomfilter_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(
        docs, "doc_id", "text", _CHUNK_TOKENS, _CHUNK_OVERLAP
    )
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id", "chunk_idx")


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), s AS (
  SELECT doc_id, ts,
         UNNEST(range(1, GREATEST(1, len(ts) - {_CHUNK_OVERLAP}) + 1,
                      {_CHUNK_TOKENS - _CHUNK_OVERLAP})) AS st
  FROM toks WHERE len(ts) > 0
)
SELECT doc_id,
       CAST((st - 1) / {_CHUNK_TOKENS - _CHUNK_OVERLAP} AS BIGINT)
         AS chunk_idx,
       CAST(len(list_slice(ts, st, st + {_CHUNK_TOKENS - 1})) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(list_slice(ts, st, st + {_CHUNK_TOKENS - 1}), ' ')
         AS chunk_text
FROM s ORDER BY doc_id, chunk_idx
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shares the cached pair set with dedup_clusters / dedup_clusters_best
    # so the shingle self-join runs ONCE per catalog pass.  The cache's
    # doc_id-not-null pre-filter is a no-op for the pairs themselves: a
    # NULL id can never satisfy `a.doc_id < b.doc_id` (NULL comparison) in
    # either engine, so the pair set is identical to the unfiltered run.
    _, pairs = _jaccard_pairs_cached(spark, sf_dir)
    return pairs.orderBy("id_a", "id_b")


_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (za.sz + zb.sz - inter), 6) AS jaccard
FROM inter
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE inter * 1.0 / (za.sz + zb.sz - inter) >= 0.2
ORDER BY id_a, id_b
"""


# the Jaccard pair set is the expensive stage shared by the two cluster
# queries; cache it per (session, sf_dir) so the catalog doesn't pay the
# shingle self-join twice (a real pipeline materializes pairs once, too)
_PAIRS_CACHE: dict = {}


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str):
    # keyed on the session OBJECT (not id(): a freed address can be reused
    # by a new session) — the strong ref pins at most 4 sessions, and
    # eviction tolerates already-stopped ones
    key = (spark, sf_dir)
    entry = _PAIRS_CACHE.get(key)
    if entry is None:
        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
        pairs = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.2
        ).cache()
        if len(_PAIRS_CACHE) >= 4:  # bound: unpersist the oldest entry
            old = _PAIRS_CACHE.pop(next(iter(_PAIRS_CACHE)))
            try:
                old[1].unpersist()
            except Exception:
                pass  # its session may already be stopped
        entry = (docs, pairs)
        _PAIRS_CACHE[key] = entry
    return entry


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → keep-list: connected components over the exact
    n-gram-Jaccard pairs, one kept representative (min doc_id) per
    cluster.  The oracle replays the transitive closure with a recursive
    CTE."""
    from bloomfilter_spark.operators.components import dedup_keep

    # id-keyed dedup excludes NULL ids (the oracle's final join drops them
    # implicitly; NULL text docs are singleton components either way)
    docs, pairs = _jaccard_pairs_cached(spark, sf_dir)
    return dedup_keep(docs, "doc_id", pairs).orderBy("doc_id")


def q_dedup_clusters_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup (RefinedWeb-style): same duplicate
    clusters as `dedup_clusters`, but the kept representative is the
    member with the most characters (smallest id on ties) instead of the
    smallest id — one extra component-partitioned window."""
    from bloomfilter_spark.operators.components import dedup_keep_best

    docs, pairs = _jaccard_pairs_cached(spark, sf_dir)
    return dedup_keep_best(docs, "doc_id", "n_chars", pairs).orderBy("doc_id")


_CLUSTERS_CTES = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz za ON za.doc_id = id_a
  JOIN sz zb ON zb.doc_id = id_b
  WHERE inter * 1.0 / (za.sz + zb.sz - inter) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
), cc AS (
  SELECT id, MIN(comp) AS component FROM reach GROUP BY id
)
"""

_DEDUP_CLUSTERS_SQL = _CLUSTERS_CTES + """
SELECT d.doc_id, cc.component, d.doc_id = cc.component AS is_kept
FROM documents d JOIN cc ON cc.id = d.doc_id
ORDER BY d.doc_id
"""

_DEDUP_CLUSTERS_BEST_SQL = _CLUSTERS_CTES + """
, lab AS (
  SELECT d.doc_id, d.n_chars, cc.component
  FROM documents d JOIN cc ON cc.id = d.doc_id
)
SELECT doc_id, n_chars, component,
       ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY n_chars DESC NULLS LAST, doc_id) = 1
         AS is_kept
FROM lab ORDER BY doc_id
"""


def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile n-gram shape): docs with
    doc_id % 10 == 7 play the held-out eval set; every other doc is flagged
    with the count of distinct 3-grams it shares with that set.  The Bloom
    prefilter prunes the exploded corpus stream map-side; the exact verify
    join makes the answer sketch-free, hence the full SQL oracle."""
    from bloomfilter_spark.operators.decontaminate import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return contaminated_docs(corpus, bench, "doc_id", "text", n=3).orderBy(
        "doc_id"
    )


_DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 7
)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM sh c JOIN bench b ON c.s = b.s
WHERE c.doc_id % 10 <> 7
GROUP BY c.doc_id
ORDER BY doc_id
"""


def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic LSH candidates + EXACT array_intersect verification:
    output equals the brute-force exact join w.p. 1-(1-J^4)^32 per pair
    (~1e-15 at the fixture's J≥0.9 dups) — so it carries a SQL oracle."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs_verified(
        docs, "doc_id", "text", threshold=0.8
    ).orderBy("id_a", "id_b")


_MINHASH_VERIFIED_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (za.sz + zb.sz - inter), 6) AS jaccard
FROM inter
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE inter * 1.0 / (za.sz + zb.sz - inter) >= 0.8
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic (LSH recall < 1) → rows-only driver check; recall
    contract pytest-checked on planted near-dups."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming-≤3 simhash pairs over the md5-based (cross-engine
    reproducible) simhash: the pigeonhole candidate join is exact and DuckDB
    recomputes the identical hash, so this carries a full value oracle.
    The murmur3 numpy simhash (throughput path) is pytest-pinned against
    this same pair semantics in tests/test_dataops.py."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup_pairs_sql(docs, "doc_id", "text", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, {MD5_HASH60_SQL.format(expr="tok")} AS h FROM toks
), bitsums AS (
  SELECT doc_id, b,
         SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT UNNEST(range(60)) AS b) GROUP BY doc_id, b
), sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
           AS sh
  FROM bitsums GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY id_a, id_b
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (MOSS) document fingerprints.  The rolling hash is mod
    2^31-1 Rabin-Karp over the text bytes — arithmetic DuckDB BIGINT can
    replay exactly, so this carries a full value oracle (the SQL below
    recomputes every window minimum from ord() code points; fixture text is
    ASCII so bytes == code points)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        with_fingerprints(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.size("fingerprints").alias("n_fingerprints"),
            F.array_min("fingerprints").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


def _fingerprints_oracle_sql() -> str:
    from bloomfilter_spark.functions.textstats import (
        _K_DEFAULT as K,
        _RK_BASE as B,
        _RK_MOD as P,
        _W_DEFAULT as W,
    )

    powers = [pow(B, K - 1 - j, P) for j in range(K)]
    terms = " + ".join(f"bs[i+{j + 1}]*{powers[j]}" for j in range(K))
    return f"""
WITH b AS (
  SELECT doc_id,
         list_transform(range(length(text)),
                        i -> ord(substr(text, i+1, 1))::BIGINT) AS bs,
         length(text) AS n
  FROM documents
), hs AS (
  SELECT doc_id,
    CASE WHEN n >= {K} THEN list_transform(range(n - {K - 1}),
                                           i -> ({terms}) % {P})
         ELSE CAST([] AS BIGINT[]) END AS h
  FROM b
), mn AS (
  SELECT doc_id,
    CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(h) <= {W} THEN [list_min(h)]
         ELSE list_transform(range(len(h) - {W - 1}),
                             i -> list_min(h[i+1:i+{W}]))
    END AS mins
  FROM hs
)
SELECT doc_id,
       len(list_distinct(mins))         AS n_fingerprints,
       CAST(list_min(mins) AS BIGINT)   AS min_fp
FROM mn ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _query_vectors(spark, sf_dir, n=5):
    emb = _t(spark, sf_dir, "embeddings")
    pdf = emb.filter(F.col("vec_id") < n).toPandas()
    pdf = pdf.rename(columns={"vec_id": "qid", "embedding": "vector"})
    return emb, pdf[["qid", "vector"]]


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, queries = _query_vectors(spark, sf_dir, n=5)
    return brute_topk(emb, queries, k=10).orderBy("qid", "rank")


_ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5
), s AS (
  SELECT q.qid, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim_raw
  FROM q CROSS JOIN embeddings e
), r AS (
  SELECT qid, vec_id, sim_raw,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_raw DESC, vec_id) AS rank
  FROM s
)
SELECT qid, rank, vec_id, ROUND(sim_raw, 4) AS sim
FROM r WHERE rank <= 10 ORDER BY qid, rank
"""


def q_ann_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return neardup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


_ANN_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
ORDER BY id_a, id_b
"""


def q_ann_neardup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH near-dup mining at its operating point: every corpus vector
    gets a planted near-duplicate (a deterministic element-wise
    perturbation, cosine ≈ 0.99 to its original), and the SRP path must
    recover exactly the planted pairs at threshold 0.9.

    This is the SemDeDup-shaped workload hyperplane LSH exists for — a
    HIGH-similarity threshold, where 16-bit bands put unrelated vectors
    (sims ≤ ~0.5 here) in disjoint buckets and only real near-dups ever
    reach the exact verify.  A 0.9-sim pair escapes all 32 bands with
    probability ~1e-9, so the output equals the brute-force oracle while
    scoring ~n candidate pairs, not n²/2.  (At LOW thresholds sign bits
    can't separate 0.3 from 0.4 cosine and banded LSH degrades toward
    all-pairs — that regime belongs to `neardup_pairs`, the exact
    block-pair plan.)"""
    emb = _t(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    ).select("vec_id", dvec.alias("embedding"))
    # 2^40 offset: base ids would have to reach ~10^12 before a planted id
    # could collide with a real one (1e6 collided at modest scale factors)
    pert = base.select(
        (F.col("vec_id") + F.lit(1 << 40)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + 0.02 * F.sin(1000.0 * x)
        ).alias("embedding"),
    )
    planted = base.unionByName(pert)
    out = neardup_srp_verified(planted, threshold=0.9, n_bits=512, bands=32)
    return (
        out.filter(~F.isnan("sim"))  # numpy/NaN-excluding compare semantics
        .orderBy("id_a", "id_b")
    )


# the oracle replays the planted perturbation and the brute-force exact
# join; Spark must reach the same pair set through the LSH candidates.
# Both sides compute in float64 (identical float->double casts; sin()
# ULP differences are ~1e-15 per element, invisible at ROUND 4).
_ANN_NEARDUP_SRP_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), u AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + 1099511627776,  -- 2^40, matching the Spark side
         list_transform(e, x -> x + 0.02 * sin(1000 * x))
  FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.e, b.e), 4) AS sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.9
  AND NOT isnan(list_cosine_similarity(a.e, b.e))
ORDER BY id_a, id_b
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (bucketed) variant — rows-only; recall vs brute force
    pytest-checked."""
    emb, queries = _query_vectors(spark, sf_dir, n=3)
    return ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4).orderBy(
        "qid", "rank"
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text→blob (stand-in for a media payload) →
    byte-histogram features + frame sampling.  Fixture text is ASCII, so
    blob bytes == code points and DuckDB recomputes the first histogram
    bin and the frame count exactly — full value oracle."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("html").alias("kind"),
        F.encode("text", "utf-8").alias("blob"),
    )
    feat = byte_histogram_features(media)
    framed = sample_frames(feat)
    return framed.select(
        "media_id",
        F.size("features").alias("n_features"),
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.size("frames").alias("n_frames"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# Pages suite (north-rule pipeline over the synthetic Common-Crawl table)
# ---------------------------------------------------------------------------


_PAGES_SUITE_ROWS = 10_000


def q_pages_sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan sketch suite over the synthetic pages table; returns the
    invariant summary (exact values + bound-check booleans).  The pages
    table is deterministic and cached at a path computable without Spark,
    so the DuckDB oracle reads the same parquet via read_parquet() and
    recomputes the exact columns; the bound booleans are expected TRUE."""
    from bloomfilter_spark.operators.pipeline import build_suite
    from bloomfilter_spark.sources.pages import ensure_pages

    path = ensure_pages(spark, _PAGES_SUITE_ROWS)
    pages = spark.read.parquet(path)
    suite = build_suite(pages, n_expected=_PAGES_SUITE_ROWS)
    exact = pages.agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("exact_urls"),
    ).first()
    hll_est = suite["hll_url"].estimate()
    fpp = suite["bloom_url"].estimated_fpp()
    bound = 4 * 1.04 / (2**14) ** 0.5
    # MG heavy-hitter invariant: the suite's frequent-items sketch must
    # surface the true hottest host with an estimate inside its deduction
    # bound (underestimate-only) — no candidate set involved.  The exact
    # side derives host through the SAME expression the suite sketched
    # (with_page_features), never a private copy of the regex.
    from bloomfilter_spark.operators.pipeline import with_page_features

    top_host = (
        with_page_features(pages)
        .groupBy("host")
        .count()
        .orderBy(F.col("count").desc(), F.col("host").asc())
        .first()
    )
    fi = suite["freq_host"]
    fi_est = fi.estimate(top_host["host"])
    err = fi.error_bound()
    # top-1 identity is only guaranteed while no prune has fired (counts
    # exact); under pruning near-tied hosts may legitimately reorder, so
    # the invariant degrades to bound-validity + ε-heavy presence
    freq_ok = (
        fi_est <= int(top_host["count"])
        and fi_est >= int(top_host["count"]) - err
        and (err > 0 or fi.topk(1)[0][0] == top_host["host"])
        and (err == 0 or fi_est > 0)
    )
    # the DDSketch member is the one suite sketch DuckDB can replay
    # EXACTLY (log-bucket histogram, closed-form estimates) — so the suite
    # oracle carries a full VALUE column, not just bound booleans
    dds_p50 = round(float(suite["dds_textlen"].quantile(0.5)), 6)
    rows = [
        (
            int(exact["n_pages"]),
            int(exact["exact_urls"]),
            bool(abs(hll_est - exact["exact_urls"]) / exact["exact_urls"] <= bound),
            bool(fpp <= 0.02),
            bool(abs(suite["kll_textlen"].rank(suite["kll_textlen"].quantile(0.5))
                     - 0.5)
                 <= suite["kll_textlen"].rank_error() + 0.02),
            bool(freq_ok),
            dds_p50,
        )
    ]
    return spark.createDataFrame(
        rows,
        "n_pages long, exact_urls long, hll_ok boolean, "
        "bloom_fpp_ok boolean, kll_ok boolean, freq_ok boolean, "
        "dds_p50_textlen double",
    )


def _pages_suite_oracle_sql() -> str:
    from bloomfilter_spark.sources.pages import pages_table_path

    path = pages_table_path(_PAGES_SUITE_ROWS)
    return f"""
WITH pos AS (
  SELECT CAST(CEIL(LN(LENGTH(text))/LN((1.0+0.01)/(1.0-0.01))) AS BIGINT) AS i,
         COUNT(*) AS c
  FROM read_parquet('{path}/*.parquet') WHERE LENGTH(text) > 0 GROUP BY 1
), allb AS (
  SELECT i, 2 * POWER((1.0+0.01)/(1.0-0.01), i)
            / ((1.0+0.01)/(1.0-0.01) + 1) AS est, c
  FROM pos
  UNION ALL
  SELECT NULL, 0.0, COUNT(*) FROM read_parquet('{path}/*.parquet')
  WHERE LENGTH(text) = 0 HAVING COUNT(*) > 0
), ordered AS (
  SELECT est, c, SUM(c) OVER (ORDER BY est) AS cw, SUM(c) OVER () AS total
  FROM allb
), dds AS (
  SELECT ROUND(MIN_BY(est, cw), 6) AS p50
  FROM ordered WHERE cw >= GREATEST(1.0, 0.5 * total)
)
SELECT CAST(COUNT(*) AS BIGINT)            AS n_pages,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS exact_urls,
       TRUE AS hll_ok, TRUE AS bloom_fpp_ok, TRUE AS kll_ok, TRUE AS freq_ok,
       (SELECT p50 FROM dds) AS dds_p50_textlen
FROM read_parquet('{path}/*.parquet')
"""


def q_pages_suite_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the suite resume contract through the catalog:
    build the full 10-sketch suite WITH checkpointing, delete two partial
    blobs (simulated lost work), resume — the resume must rebuild exactly
    those two partitions, skip the rest without re-scanning, and every
    merged sketch must be bit-identical to an uninterrupted build_multi."""
    import os
    import shutil
    import tempfile

    from bloomfilter_spark.operators.pipeline import (
        build_multi,
        build_multi_checkpointed,
        pages_suite_specs,
        with_page_features,
    )
    from bloomfilter_spark.sources.pages import ensure_pages

    path = ensure_pages(spark, _PAGES_SUITE_ROWS)
    pages = spark.read.parquet(path)
    feats = with_page_features(pages)
    specs = pages_suite_specs(_PAGES_SUITE_ROWS)
    ckpt = tempfile.mkdtemp(prefix="bfs_suite_ckpt_")
    try:
        build_multi_checkpointed(feats, specs, ckpt)
        victims = sorted(
            f for f in os.listdir(ckpt)
            if f.startswith("partial-") and f.endswith(".bin")
        )[:2]
        for v in victims:
            os.remove(os.path.join(ckpt, v))
        merged, lineage = build_multi_checkpointed(feats, specs, ckpt)
        lp = lineage.toPandas()
        direct = build_multi(feats, specs)
        bit_identical = all(
            merged[n].to_bytes() == direct[n].to_bytes() for n in specs
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [
        (
            int(pages.count()),
            int((~lp["resumed"]).sum()),
            bool(int(lp["resumed"].sum()) == len(lp) - 2),
            bool(bit_identical),
        )
    ]
    return spark.createDataFrame(
        rows,
        "n_pages long, rebuilt_partitions long, "
        "resume_skipped_rest boolean, bit_identical boolean",
    )


def _pages_resume_oracle_sql() -> str:
    from bloomfilter_spark.sources.pages import pages_table_path

    path = pages_table_path(_PAGES_SUITE_ROWS)
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(2 AS BIGINT)        AS rebuilt_partitions,
       TRUE AS resume_skipped_rest, TRUE AS bit_identical
FROM read_parquet('{path}/*.parquet')
"""


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one query: language ID →
    quality filter → exact dedup → token accounting.  Every stage is pure
    Catalyst (no Python), so the whole chain stays in one codegen'd plan
    with a single shuffle for the dedup groupBy; the oracle replays the
    identical SQL semantics end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    enriched = quality_features(docs.select("doc_id", "text")).withColumn(
        "lang_pred", lang_id("text")
    )
    kept = enriched.filter(
        (F.col("lang_pred") == "en") & F.col("quality_ok")
    )
    dd = kept.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    return dd.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


_CLEAN_CORPUS_SQL = f"""
WITH f AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END
           AS n_tokens,
         length(regexp_replace(text, '[^0-9]', '', 'g'))    AS digit,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es
  FROM documents
), kept AS (
  SELECT doc_id, text, n_tokens FROM f
  WHERE n_tokens >= 5
    AND alpha / GREATEST(n_chars, 1) >= 0.5
    AND digit / GREATEST(n_chars, 1) <= 0.3
    AND GREATEST(s_en, s_de, s_fr, s_es) > 0
    AND s_en = GREATEST(s_en, s_de, s_fr, s_es)
), dd AS (
  SELECT MIN(doc_id) AS keep_doc_id, arg_min(n_tokens, doc_id) AS t
  FROM kept GROUP BY md5(text)
)
SELECT COUNT(*) AS n_docs_kept, CAST(SUM(t) AS BIGINT) AS total_tokens FROM dd
"""


# byte-histogram bin 0 = bytes < 256/16; frame count: ≤64-byte blobs yield
# one frame per byte offset (≤4), longer blobs always fill all 4 windows
_MULTIMODAL_FEATURES_SQL = """
SELECT doc_id AS media_id,
       CAST(16 AS INTEGER) AS n_features,
       ROUND(CASE WHEN length(text) = 0 THEN 0.0
                  ELSE len(list_filter(
                         list_transform(range(length(text)),
                                        i -> ord(substr(text, i+1, 1))),
                         x -> x < 16)) * 1.0 / length(text)
             END, 6) AS f0,
       CAST(CASE WHEN length(text) = 0 THEN 0
                 ELSE LEAST(4, length(text)) END AS INTEGER) AS n_frames
FROM documents ORDER BY media_id
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
_SAMPLE_SEED = 7


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (per-lang rates) by md5 content
    hash — reproducible across runs/partitionings/engines, so the DuckDB
    oracle recomputes the EXACT per-stratum sampled counts, not just a
    statistical bound."""
    from bloomfilter_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, "doc_id", "lang", _SAMPLE_RATES, default_rate=0.05,
        seed=_SAMPLE_SEED,
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    counts = sampled.groupBy("lang").agg(F.count("*").alias("n_sampled"))
    return (
        totals.join(counts, "lang", "left")
        .select("lang", "n_total", F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"))
        .orderBy("lang")
    )


def _sample_oracle_sql() -> str:
    from bloomfilter_spark.operators.sampling import sample_hash_threshold

    cases = " ".join(
        f"WHEN lang = '{v}' THEN {sample_hash_threshold(r)}"
        for v, r in sorted(_SAMPLE_RATES.items())
    )
    default_thr = sample_hash_threshold(0.05)
    key_expr = (
        f"COALESCE(CAST(doc_id AS VARCHAR), '') || ':{_SAMPLE_SEED}'"
    )
    return f"""
WITH h AS (
  SELECT lang,
         {MD5_HASH60_SQL.format(expr=key_expr)}
           AS kh,
         CASE {cases} ELSE {default_thr} END AS thr
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN kh < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM h GROUP BY lang ORDER BY lang
"""


_PACK_TARGET = 8192


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential output-shard packing via the distributed global
    prefix sum (operators/packing.py) — ONE range shuffle, per-partition
    Arrow cumsum, driver-side offsets over n_partitions rows only (never a
    global single-reducer window).  Walk order is (md5(doc_id), doc_id),
    so the layout is content-deterministic and the DuckDB oracle replays
    every byte offset with a plain SUM() OVER (ORDER BY)."""
    from bloomfilter_spark.functions.hashing import md5_hash60
    from bloomfilter_spark.operators.packing import pack_shards, shard_summary

    # NULL-safe order key (the sampling _key_hash rule) — md5_hash60 over a
    # raw NULL would propagate and Spark/DuckDB disagree on NULL sort order
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        md5_hash60(
            F.coalesce(F.col("doc_id").cast("string"), F.lit(""))
        ).alias("ok"),
    )
    packed = pack_shards(docs, ["ok", "doc_id"], "n_chars", _PACK_TARGET)
    return shard_summary(packed, "n_chars").orderBy("shard_id")


def _pack_shards_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    ok = MD5_HASH60_SQL.format(expr="COALESCE(CAST(doc_id AS VARCHAR), '')")
    return f"""
WITH h AS (
  SELECT doc_id, GREATEST(COALESCE(n_chars, 0), 0) AS sz, {ok} AS ok
  FROM documents
), c AS (
  SELECT sz,
         SUM(sz) OVER (ORDER BY ok, doc_id NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM h
)
SELECT CAST((run - sz) // {_PACK_TARGET} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(sz) AS BIGINT) AS shard_bytes
FROM c GROUP BY shard_id ORDER BY shard_id
"""


_MIX_BUDGET = 100_000
_MIX_WEIGHTS = {f"src{i}": float(i % 4 + 1) for i in range(20)}
_MIX_SEED = 7


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional corpus mixing (data-mixture construction): each source
    is hash-threshold downsampled so its expected char contribution is
    budget·weight_share, rates computed from a per-source size aggregate
    (one driver row per source).  Deterministic end to end, so the oracle
    recomputes the exact per-source kept counts — including the clipped
    rate-1 branch for sources too small to fill their share."""
    from bloomfilter_spark.operators.sampling import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    size = F.coalesce(F.col("n_chars").cast("long"), F.lit(0))
    mixed = mix_to_budget(
        docs, "doc_id", "source", "n_chars", _MIX_WEIGHTS, _MIX_BUDGET,
        seed=_MIX_SEED,
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(size).alias("chars_total")
    )
    kept = mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum(size).alias("chars_kept")
    )
    return (
        totals.join(kept, "source", "left")
        .select(
            "source", "n_docs", "chars_total",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("chars_kept", F.lit(0)).alias("chars_kept"),
        )
        .orderBy("source")
    )


def _mix_corpus_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL
    from bloomfilter_spark.operators.sampling import normalize_weights

    # identical normalized weights (sorted-key accumulation) as the query;
    # repr() round-trips each double exactly into DuckDB
    norm = normalize_weights(_MIX_WEIGHTS)
    cases = " ".join(f"WHEN '{s}' THEN {w!r}" for s, w in norm.items())
    listed = " ".join(f"WHEN '{s}' THEN 1" for s in norm)
    key_expr = f"COALESCE(CAST(doc_id AS VARCHAR), '') || ':{_MIX_SEED}'"
    kh = MD5_HASH60_SQL.format(expr=key_expr)
    # the rate-1 clip for empty sources applies only to LISTED sources
    # (mix_rates); unlisted sources always get default_rate 0
    return f"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS chars_total
  FROM documents GROUP BY source
), thr AS (
  SELECT source, n_docs, chars_total,
         CAST(FLOOR(
           (CASE WHEN (CASE source {listed} ELSE 0 END) = 0 THEN 0.0
                 WHEN chars_total <= 0 THEN 1.0
                 ELSE LEAST(1.0,
                            (CAST({_MIX_BUDGET} AS DOUBLE)
                             * (CASE source {cases} ELSE 0.0 END))
                            / CAST(chars_total AS DOUBLE)) END)
           * 1152921504606846976.0) AS BIGINT) AS keep_thr
  FROM t
), k AS (
  SELECT source, COUNT(*) AS n_kept,
         CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS chars_kept
  FROM documents d JOIN thr USING (source)
  WHERE {kh} < keep_thr
  GROUP BY source
)
SELECT thr.source, thr.n_docs, thr.chars_total,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.chars_kept, 0) AS chars_kept
FROM thr LEFT JOIN k USING (source) ORDER BY thr.source
"""


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear (fastText-shape) quality-classifier scoring, map-only
    Catalyst: tokenize → per-token weight lookup via the md5 hash rule →
    exact int64 dot product.  Quantized integer weights make the score
    summation-order-free, so the oracle replays logits bit-for-bit and the
    keep-gate never flips on float rounding."""
    from bloomfilter_spark.functions.classifier import classifier_scores

    docs = _t(spark, sf_dir, "documents")
    scored = classifier_scores(docs, "text", dim=1024, salt="0")
    return scored.select(
        "doc_id", "n_tokens", F.round("logit", 6).alias("logit"), "keep"
    ).orderBy("doc_id")


def _classifier_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    bucket = f"({MD5_HASH60_SQL.format(expr='tok')} % 1024)"
    wkey = f"'w:0:' || CAST({bucket} AS VARCHAR)"
    weight = f"({MD5_HASH60_SQL.format(expr=wkey)} % 2097152) - 1048576"
    # rid: per-row key so NULL doc_ids neither merge nor lose their score
    # at the join-back (the Spark scorer is map-only per row)
    return f"""
WITH docs AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (ORDER BY doc_id NULLS FIRST, text NULLS FIRST)
           AS rid
  FROM documents
), toks AS (
  SELECT rid, tok
  FROM (
    SELECT rid,
           UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM docs
  ) WHERE tok <> ''
), s AS (
  SELECT rid, COUNT(*) AS n_tokens,
         SUM({weight}) AS raw
  FROM toks GROUP BY rid
)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       ROUND(CASE WHEN s.n_tokens > 0
                  THEN CAST(s.raw AS DOUBLE) / (s.n_tokens * 1048576.0)
                  ELSE 0.0 END, 6) AS logit,
       COALESCE(s.raw > 0, FALSE) AS keep
FROM docs d LEFT JOIN s USING (rid) ORDER BY d.doc_id
"""


_CLASSIFIER_SQL = _classifier_oracle_sql()


_NGRAM_N = 3
_NGRAM_MIN_COUNT = 5
_NGRAM_TOP_K = 100


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram vocabulary counts (LM count tables / tokenizer-prep):
    trigram strings exploded map-side, ONE shuffle with partial
    aggregation, min-count pruning, then TakeOrderedAndProject top-k with
    a (count desc, ngram asc) deterministic tiebreak."""
    from bloomfilter_spark.functions.textstats import tokens_nonempty, word_ngrams

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(tokens_nonempty(F.col("text")).alias("ts"))
    grams = toks.select(F.explode(word_ngrams("ts", _NGRAM_N)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= _NGRAM_MIN_COUNT)
        .orderBy(F.desc("cnt"), "ngram")
        .limit(_NGRAM_TOP_K)
    )


_NGRAM_COUNTS_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT UNNEST(CASE WHEN len(ts) >= {_NGRAM_N}
         THEN list_transform(range(1, len(ts) - {_NGRAM_N - 2}),
                             i -> array_to_string(list_slice(ts, i, i + {_NGRAM_N - 1}), ' '))
         ELSE [] END) AS ngram
  FROM toks
)
SELECT ngram, COUNT(*) AS cnt FROM grams GROUP BY ngram
HAVING COUNT(*) >= {_NGRAM_MIN_COUNT}
ORDER BY cnt DESC, ngram LIMIT {_NGRAM_TOP_K}
"""


_INCR_SPLIT_FRAC = 0.5  # first half of doc_ids = the existing corpus
_INCR_ID_OFFSET = 1_000_000


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup: drop new-crawl documents whose text
    already exists in the reference corpus.  ref = first half of doc_ids;
    new = second half plus every 5th ref doc re-identified (planted
    cross-corpus duplicates).  `bloom_anti_join` on the md5-60 text
    fingerprint: sketch-rejected rows never shuffle, candidates are
    confirmed by an exact anti-join (FPs killed), and the counter-filter
    prunes the corpus side of the join map-side too.  Exact by
    construction, so the oracle is a plain NOT EXISTS."""
    from bloomfilter_spark.functions.hashing import md5_hash60
    from bloomfilter_spark.operators.membership import bloom_anti_join

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    split = int(n_docs * _INCR_SPLIT_FRAC)
    fp = md5_hash60(F.coalesce(F.col("text"), F.lit("")))
    ref = docs.filter(F.col("doc_id") < split).select(
        "doc_id", fp.alias("ref_fp")
    )
    new = (
        docs.filter(F.col("doc_id") >= split)
        .select("doc_id", fp.alias("fp"))
        .unionByName(
            docs.filter(
                (F.col("doc_id") < split) & (F.pmod("doc_id", F.lit(5)) == 0)
            ).select(
                (F.col("doc_id") + _INCR_ID_OFFSET).alias("doc_id"),
                fp.alias("fp"),
            )
        )
    )
    kept = bloom_anti_join(
        new, "fp", ref, "ref_fp", n_expected=split, counter_filter=True
    )
    return kept.select("doc_id").orderBy("doc_id")


def _dedup_incremental_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    fp = MD5_HASH60_SQL.format(expr="COALESCE(text, '')")
    return f"""
WITH n AS (SELECT CAST(FLOOR(COUNT(*) * {_INCR_SPLIT_FRAC!r}) AS BIGINT) AS split
           FROM documents),
ref AS (
  SELECT {fp} AS fp FROM documents, n WHERE doc_id < split
),
new_crawl AS (
  SELECT doc_id, {fp} AS fp FROM documents, n WHERE doc_id >= split
  UNION ALL
  SELECT doc_id + {_INCR_ID_OFFSET} AS doc_id, {fp} AS fp
  FROM documents, n WHERE doc_id < split AND doc_id % 5 = 0
)
SELECT doc_id FROM new_crawl nc
WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.fp = nc.fp)
ORDER BY doc_id
"""


_TOPFRAC = 0.3


def q_filter_top_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the best 30% of documents per language by classifier logit
    (FineWeb-Edu-style model-score curation).  Rank on the EXACT integer
    score (rounded logits tie; raw int64 sums don't except true ties,
    broken by doc_id), cutoff = floor(0.3·n) per group — one
    group-partitioned window, everything else map-only."""
    from bloomfilter_spark.functions.classifier import classifier_scores
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # project BEFORE the window: the per-lang exchange must carry
    # (doc_id, lang, logit), not the text bytes
    scored = classifier_scores(docs, "text", dim=1024, salt="0").select(
        "doc_id", "lang", "logit"
    )
    # asc_nulls_last matches DuckDB's default NULLS LAST for the id tiebreak
    w = Window.partitionBy("lang").orderBy(
        F.col("logit").desc(), F.col("doc_id").asc_nulls_last()
    )
    wn = Window.partitionBy("lang")
    kept = (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n_lang", F.count(F.lit(1)).over(wn))
        .filter(F.col("rk") <= F.floor(F.col("n_lang") * F.lit(_TOPFRAC)))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min(F.round("logit", 6)).alias("min_logit"),
        F.max(F.round("logit", 6)).alias("max_logit"),
    ).orderBy("lang")


def _filter_top_quality_oracle_sql() -> str:
    # reuse the classifier replay: same weight rule, rank on the exact
    # double logit (identical division), cutoff floor(0.3*n) per lang
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    bucket = f"({MD5_HASH60_SQL.format(expr='tok')} % 1024)"
    wkey = f"'w:0:' || CAST({bucket} AS VARCHAR)"
    weight = f"({MD5_HASH60_SQL.format(expr=wkey)} % 2097152) - 1048576"
    # rid keying (same rationale as _classifier_oracle_sql): a join-back
    # USING (doc_id) would score NULL-id docs 0.0 (join never matches) and
    # merge duplicate-id docs, while the Spark scorer is map-only per row
    return f"""
WITH docs AS (
  SELECT doc_id, lang, text,
         ROW_NUMBER() OVER (ORDER BY doc_id NULLS FIRST, text NULLS FIRST)
           AS rid
  FROM documents
), toks AS (
  SELECT rid, tok
  FROM (
    SELECT rid,
           UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM docs
  ) WHERE tok <> ''
), s AS (
  SELECT rid, COUNT(*) AS n_tokens, SUM({weight}) AS raw
  FROM toks GROUP BY rid
), scored AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN s.n_tokens > 0
              THEN CAST(s.raw AS DOUBLE) / (s.n_tokens * 1048576.0)
              ELSE 0.0 END AS logit
  FROM docs d LEFT JOIN s USING (rid)
), ranked AS (
  SELECT lang, logit,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY logit DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored
)
SELECT lang, COUNT(*) AS n_kept,
       MIN(ROUND(logit, 6)) AS min_logit,
       MAX(ROUND(logit, 6)) AS max_logit
FROM ranked WHERE rk <= FLOOR(n_lang * {_TOPFRAC!r})
GROUP BY lang ORDER BY lang
"""


_KPG_K = 30
_KPG_SEED = 5


def q_sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size per-group carve-out (e.g. a fixed eval slice per
    language): hash-rank rows within each group, keep rank ≤ k.  One
    shuffle (window partitioned by group, never a global order);
    deterministic, nested across k, and fully value-oracled."""
    from bloomfilter_spark.operators.sampling import sample_k_per_group

    docs = _t(spark, sf_dir, "documents")
    kept = sample_k_per_group(docs, "doc_id", "lang", _KPG_K, seed=_KPG_SEED)
    return kept.select("doc_id", "lang").orderBy("lang", "doc_id")


def _sample_k_per_lang_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    key_expr = f"COALESCE(CAST(doc_id AS VARCHAR), '') || ':{_KPG_SEED}'"
    kh = MD5_HASH60_SQL.format(expr=key_expr)
    return f"""
WITH h AS (
  SELECT doc_id, lang, {kh} AS kh FROM documents
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY kh, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang FROM r WHERE rk <= {_KPG_K} ORDER BY lang, doc_id
"""


_WKS_K = 5
_WKS_SEED = 7


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis), k per
    language with weight = n_chars: longer documents are proportionally
    more likely, the slice is exact-size and a pure function of the data.
    The md5-derived uniform makes the A-ES rank key SQL-replayable, so
    the oracle value-checks every selected row AND its rank key."""
    from bloomfilter_spark.operators.sampling import sample_weighted_k

    docs = _t(spark, sf_dir, "documents")
    kept = sample_weighted_k(
        docs, "doc_id", "n_chars", _WKS_K, group_col="lang", seed=_WKS_SEED
    )
    return kept.select("lang", "doc_id", "sample_key").orderBy("lang", "doc_id")


def _sample_weighted_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL

    key_expr = f"COALESCE(CAST(doc_id AS VARCHAR), '') || ':{_WKS_SEED}'"
    kh = MD5_HASH60_SQL.format(expr=key_expr)
    # n_chars is BIGINT so `> 0` alone excludes NULL and non-positive
    # weights (no NaN in an integer column; a double weight column would
    # need an explicit NOT isnan() here — DuckDB's NaN > 0 is TRUE)
    return f"""
WITH keyed AS (
  SELECT lang, doc_id,
         ROUND(LN(({kh} + 1) / {float(1 << 60)!r}) / n_chars, 9) AS sample_key
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT lang, doc_id, sample_key,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY sample_key DESC, doc_id NULLS LAST) AS rk
  FROM keyed
)
SELECT lang, doc_id, sample_key FROM r WHERE rk <= {_WKS_K}
ORDER BY lang NULLS FIRST, doc_id
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → analyze pipeline over the deterministic fake-codec media
    table (BFIM images / BFAU audio).  The decoded dimensions are pure
    functions of media_id (synthetic_media docstring), so the DuckDB
    oracle recomputes them from the id alone — a genuine end-to-end check
    that the binary headers round-trip through Arrow and the decoder."""
    from bloomfilter_spark.operators.multimodal import (
        decode_media_features,
        synthetic_media,
    )

    media = synthetic_media(spark, 300)
    return (
        decode_media_features(media)
        .select("media_id", "kind", "width", "height", "channels", "decode_ok")
        .orderBy("media_id")
    )


_MULTIMODAL_DECODE_SQL = """
WITH ids AS (SELECT UNNEST(range(300)) AS media_id)
SELECT media_id,
  CASE WHEN media_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
  CAST(CASE WHEN media_id % 2 = 0 THEN 16 + (media_id % 5) * 8
            ELSE 400 + (media_id % 50) * 16 END AS BIGINT) AS width,
  CAST(CASE WHEN media_id % 2 = 0 THEN 12 + (media_id % 7) * 4
            ELSE 1 END AS BIGINT) AS height,
  CAST(CASE WHEN media_id % 2 = 0 THEN 1 + media_id % 3
            ELSE 1 END AS BIGINT) AS channels,
  TRUE AS decode_ok
FROM ids ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# Streaming (Structured Streaming stateful sketch path)
# ---------------------------------------------------------------------------


# process-level staged-source cache: the 7 streaming catalog queries
# re-stage the SAME time/hash-sliced parquet micro-batches every run
# (4 of them stage the identical hash-routed events table), and staging
# dominated the family's bench cost (VERDICT r4 next #6).  Keyed by
# (sf_dir, slicing rule); entries live until process exit.  Checkpoints
# and memory sinks are NEVER shared — only the immutable source files.
_STAGE_CACHE: dict[str, str] = {}


def _cleanup_stage_cache() -> None:
    import shutil

    for path in _STAGE_CACHE.values():
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    _STAGE_CACHE.clear()


def _staged_source(
    spark: SparkSession,
    df: DataFrame,
    split_col: str,
    prefix: str,
    n_batches: int,
    route,
    cache_key: str | None,
) -> tuple[str, bool]:
    """Stage `df` into n_batches single-file parquet micro-batches; return
    (src_path, caller_owns).  With a cache_key the staging is memoized for
    the process (caller_owns=False); without, the caller must delete it."""
    import atexit
    import tempfile

    if cache_key is not None and cache_key in _STAGE_CACHE:
        return _STAGE_CACHE[cache_key], False
    work = tempfile.mkdtemp(prefix=f"bfs_{prefix}_")
    src = f"{work}/src"
    route_col = (
        F.pmod(F.xxhash64(split_col), F.lit(n_batches))
        if route is None
        else route(df)
    )
    staged = df.withColumn("__route", route_col)
    if route is not None:
        # a custom route may be a global-sort expression (ntile over
        # event time); materialize once instead of re-sorting per write
        staged = staged.localCheckpoint(eager=False)
    for i in range(n_batches):
        staged.filter(F.col("__route") == i).drop("__route").coalesce(
            1
        ).write.mode("append").parquet(src)
    if cache_key is not None:
        if not _STAGE_CACHE:
            atexit.register(_cleanup_stage_cache)
        _STAGE_CACHE[cache_key] = src
        return src, False
    return src, True


# State-store partition count for the streaming catalog queries.  A
# stateful stream's shuffle-partition count is FROZEN into its checkpoint
# at first start, so a real job right-sizes it to expected state volume
# up front rather than inheriting the batch default; at catalog scale the
# per-partition-per-microbatch state-store fixed cost dominates (32
# partitions x 4 batches measured 5.1 s vs 2.6 s at 8 for identical
# output — results are partitioning-independent, the stream ≡ batch
# bit-equality oracles pin that).  8 keeps multi-partition state + merge
# genuinely exercised.
_STREAM_STATE_PARTITIONS = 8


class _state_partitions:
    """Scoped spark.sql.shuffle.partitions override (streaming queries
    freeze it into the new checkpoint at .start(); batch queries in the
    same session must keep the session default)."""

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _run_staged_stream(
    spark: SparkSession,
    df: DataFrame,
    split_col: str,
    build_stream,
    prefix: str,
    out_mode: str = "update",
    n_batches: int = 3,
    route=None,
    cache_key: str | None = None,
):
    """Shared harness for every streaming catalog query: stage `df` into
    `n_batches` parquet files (routed by pmod(xxhash64(split_col), n) —
    pmod, not %, which keeps the dividend's sign and would silently drop
    negative hashes), replay them as a maxFilesPerTrigger=1 file stream,
    run `build_stream(stream)` into a memory sink (availableNow), and
    return the sink contents as pandas.  The sink name is unique per
    invocation so a catalog re-run in one session never reads stale rows.

    `route` (optional) overrides the hash routing with a custom
    batch-index column expression (df -> Column in [0, n_batches)) — the
    windowed-dedup entry routes by TIME so generations arrive in order,
    the shape its eviction contract (and any real event stream) assumes.

    `cache_key` (optional) memoizes the staged SOURCE per process — pass
    a key that captures (sf_dir, table, slicing rule).  Checkpoint dir
    and sink stay per-invocation.
    """
    import shutil
    import tempfile
    import uuid

    src, owns_src = _staged_source(
        spark, df, split_col, prefix, n_batches, route, cache_key
    )
    work = tempfile.mkdtemp(prefix=f"bfs_run_{prefix}_")
    name = f"bfs_{prefix}_{uuid.uuid4().hex[:12]}"
    try:
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with _state_partitions(spark, _STREAM_STATE_PARTITIONS):
            q = (
                build_stream(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(out_mode)
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass  # sink never registered (query failed before start)
        shutil.rmtree(work, ignore_errors=True)
        if owns_src:
            shutil.rmtree(os.path.dirname(src), ignore_errors=True)


def q_streaming_grouped_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running HLL built through the STREAMING stateful path
    (applyInPandasWithState, 3 micro-batches over a staged file stream),
    checked against exact COUNT(*)/COUNT(DISTINCT): the streamed sketch's
    estimate must honor the HLL bound and the folded row counts must be
    exact.  Commutative max-merge ⇒ the streamed state is register-identical
    to a batch build (pytest-pinned in tests/test_streaming_stateful.py)."""
    from bloomfilter_spark.operators.build import hll_factory
    from bloomfilter_spark.streaming.stateful import grouped_sketch_stream

    ev = _t(spark, sf_dir, "events")
    out = _run_staged_stream(
        spark,
        ev,
        "event_id",
        lambda s: grouped_sketch_stream(
            s.select("event_type", "user_id"),
            "event_type",
            "user_id",
            hll_factory(precision=14),
        ),
        "stream_grouped",
        cache_key=f"{sf_dir}|events|h3",
    )
    # dropna=False: the NULL event_type group's state row must survive
    # (pandas groupby silently drops NULL keys by default, while the SQL
    # oracle's GROUP BY emits the NULL group)
    final = out.loc[out.groupby("event_type", dropna=False)["rows_total"].idxmax()]
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("rows_total"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .toPandas()
        .set_index("event_type")
    )
    bound = 4 * (1.04 / (2**14) ** 0.5)
    rows = [
        (
            str(r["event_type"]),
            int(r["rows_total"]),
            int(exact.loc[r["event_type"], "exact_users"]),
            bool(
                abs(r["estimate"] - exact.loc[r["event_type"], "exact_users"])
                / max(1, exact.loc[r["event_type"], "exact_users"])
                <= bound
            ),
        )
        for _, r in final.iterrows()
    ]
    return spark.createDataFrame(
        sorted(rows),
        "event_type string, rows_total long, exact_users long, hll_ok boolean",
    )


_STREAMING_GROUPED_SQL = """
SELECT event_type,
       COUNT(*)                 AS rows_total,
       COUNT(DISTINCT user_id)  AS exact_users,
       TRUE                     AS hll_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heavy-hitter users from a Misra-Gries sketch built through
    the STREAMING stateful path (applyInPandasWithState, 3 micro-batches
    over a staged file stream) — the third sketch family on the streaming
    surface, next to the grouped HLL and the Bloom first-seen dedup.

    The stream folds every micro-batch into ONE running MG summary (a
    constant group key; per-key state is the 8·capacity-ish-byte summary,
    NOT the stream), and the answer is read from the final trigger's blob.
    Capacity is sized from the table (metadata distinct count, never a
    constant — a hard-coded capacity starts pruning at whatever scale
    factor exceeds it, silently de-exacting the oracle), so no prune
    fires, stored counts are exact, and the same full-value SQL oracle as
    the batch topk_users_freqitems query applies — stream ≡ batch ≡
    exact.  At 10^12 events a user picks a FIXED capacity instead and
    the SAME query returns ε-heavy hitters (ε = 1/(capacity+1)) with the
    certified deduction bound (Agarwal et al., PODS 2012 §3).
    Tie-break (count desc, key asc) is the sketch's topk() order,
    replayed by the oracle."""
    from bloomfilter_spark.operators.build import freqitems_factory
    from bloomfilter_spark.sketches import serde
    from bloomfilter_spark.streaming.stateful import grouped_sketch_stream

    ev = _t(spark, sf_dir, "events")
    capacity = max(
        4096, int(ev.select(F.countDistinct("user_id")).first()[0]) + 1
    )
    out = _run_staged_stream(
        spark,
        ev,
        "event_id",
        lambda s: grouped_sketch_stream(
            s.select(F.lit("all").alias("g"), "user_id"),
            "g",
            "user_id",
            freqitems_factory(capacity),
        ),
        "stream_topk",
        cache_key=f"{sf_dir}|events|h3",
    )
    final = out.loc[out["rows_total"].idxmax()]
    sk = serde.deserialize(bytes(final["blob"]))
    bound = int(sk.error_bound())
    rows = [
        (i + 1, int(k), int(c), bound)
        for i, (k, c) in enumerate(sk.topk(10))
    ]
    return spark.createDataFrame(
        rows, "rank long, user_id long, est_cnt long, deduction_bound long"
    )


_STREAMING_TOPK_SQL = """
SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id ASC) AS rank,
       user_id,
       COUNT(*) AS est_cnt,
       CAST(0 AS BIGINT) AS deduction_bound
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
ORDER BY est_cnt DESC, user_id ASC LIMIT 10
"""


def q_streaming_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-unique dedup through the generational Bloom ring: emit each
    user's FIRST event per day, at state bounded by (shards × kept
    generations × filter bytes) — the trailing-retention analog of the
    infinite-window first-seen entry.  Batches are routed by TIME (ntile
    over event time) so generations arrive in order, which is what the
    ring's eviction contract — and any real event stream — assumes.
    Full value oracle: ROW_NUMBER() = 1 per (user, day); fpp 1e-6 makes a
    false suppression deterministically absent at catalog scale."""
    from pyspark.sql import Window as W

    from bloomfilter_spark.streaming.stateful import streaming_first_seen_windowed

    ev = _t(spark, sf_dir, "events")
    n_per_window = max(
        2048, 2 * int(ev.select(F.countDistinct("user_id")).first()[0])
    )
    out = _run_staged_stream(
        spark,
        ev,
        "event_id",
        lambda s: streaming_first_seen_windowed(
            s,
            "user_id",
            "ts",
            window_sec=86400,
            n_expected_per_window=n_per_window,
            order_cols=["ts", "event_id"],
        ),
        "windowed_dedup",
        out_mode="append",
        route=lambda df: F.ntile(3).over(
            W.orderBy(F.col("ts").asc_nulls_first(), F.col("event_id"))
        )
        - 1,
        cache_key=f"{sf_dir}|events|ntile3",
    )
    kept = out[["event_id", "user_id"]].sort_values("event_id")
    return spark.createDataFrame(
        kept, "event_id long, user_id long"
    ).orderBy("event_id")


_STREAMING_WINDOWED_SQL = """
SELECT event_id, user_id FROM (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id,
                        CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT)
           ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL) t
WHERE rn = 1
UNION ALL
SELECT event_id, user_id FROM events WHERE user_id IS NULL OR ts IS NULL
ORDER BY event_id
"""


def q_streaming_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min through the STREAMING stateful path: micro-batches fold
    into one running CMS (state = the depth x width counter grid, not the
    stream), and the final blob answers per-type point queries against the
    same exact-count oracle as the batch cms_event_type_counts query —
    stream ≡ batch ≡ within epsilon-N of exact.  Completes the streaming
    surface: every mergeable family now streams (Bloom, HLL, MG, KLL,
    CMS)."""
    from bloomfilter_spark.operators.build import cms_factory
    from bloomfilter_spark.sketches import serde
    from bloomfilter_spark.streaming.stateful import grouped_sketch_stream

    ev = _t(spark, sf_dir, "events")
    out = _run_staged_stream(
        spark,
        ev,
        "event_id",
        lambda s: grouped_sketch_stream(
            s.select(F.lit("all").alias("g"), "event_type"),
            "g",
            "event_type",
            cms_factory(epsilon=0.0005, delta=0.001),
        ),
        "stream_cms",
        cache_key=f"{sf_dir}|events|h3",
    )
    final = out.loc[out["rows_total"].idxmax()]
    sk = serde.deserialize(bytes(final["blob"]))
    bound = sk.error_bound()
    exact = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").alias("exact_cnt"))
        .toPandas()
        .sort_values("event_type")
    )
    ests = sk.query(list(exact.event_type))
    rows = [
        (
            str(t),
            int(c),
            bool(c <= est <= c + bound + 1),
        )
        for t, c, est in zip(exact.event_type, exact.exact_cnt, ests)
    ]
    return spark.createDataFrame(
        rows, "event_type string, exact_cnt long, cms_ok boolean"
    ).orderBy("event_type")


_STREAMING_CMS_SQL = """
SELECT event_type, COUNT(*) AS exact_cnt, TRUE AS cms_ok
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running KLL over event value through the STREAMING
    stateful path — with this, every mergeable sketch family streams
    (HLL distinct, MG heavy-hitters, Bloom dedup, KLL quantiles).

    Same self-contained bound pattern as the batch kll query: the
    streamed sketch's rank of the exact median must sit within the
    published rank error (+tie slack) of 0.5, and the folded row counts
    must be exact — both SQL-replayable, so the oracle is full-value."""
    from bloomfilter_spark.operators.build import kll_factory
    from bloomfilter_spark.sketches import serde
    from bloomfilter_spark.streaming.stateful import grouped_sketch_stream

    ev = _t(spark, sf_dir, "events")
    out = _run_staged_stream(
        spark,
        ev,
        "event_id",
        lambda s: grouped_sketch_stream(
            s.select("event_type", "value"), "event_type", "value",
            kll_factory(k=200),
        ),
        "stream_kll",
        cache_key=f"{sf_dir}|events|h3",
    )
    # dropna=False: keep the NULL event_type group (oracle's GROUP BY does)
    final = out.loc[out.groupby("event_type", dropna=False)["rows_total"].idxmax()]
    exact = (
        ev.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("exact_median"))
        .toPandas()
        .set_index("event_type")
    )
    rows = []
    for _, r in final.iterrows():
        et = r["event_type"]
        sk = serde.deserialize(bytes(r["blob"]))
        med = float(exact.loc[et, "exact_median"])
        ok = abs(sk.rank(med) - 0.5) <= sk.rank_error() + 0.015
        # rows_total comes from the STREAM's folded state, so the oracle's
        # COUNT(*) verifies the stream saw every row exactly once
        rows.append((str(et), int(r["rows_total"]), round(med, 6), bool(ok)))
    return spark.createDataFrame(
        sorted(rows),
        "event_type string, rows_total long, exact_median double, kll_ok boolean",
    )


_STREAMING_QUANTILES_SQL = """
SELECT event_type,
       COUNT(*)                                 AS rows_total,
       ROUND(MEDIAN(value), 6)                  AS exact_median,
       TRUE                                     AS kll_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_streaming_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest through the streaming Bloom state: documents stream
    in 3 micro-batches keyed by md5(text); the operator must emit each
    distinct text exactly once (zero false negatives ⇒ duplicate emission
    is impossible) and may suppress at most ~fpp of the distinct texts.
    The exact distinct count is the oracle-checked column."""
    from bloomfilter_spark.streaming.stateful import streaming_first_seen

    docs = _t(spark, sf_dir, "documents").withColumn("k", F.md5("text"))
    fpp = 0.01
    # size from the table (metadata count), never a constant: a hard-coded
    # capacity saturates at larger scale factors and blows the fpp budget
    n_expected = max(10_000, 2 * docs.count())
    out = _run_staged_stream(
        spark,
        docs,
        "doc_id",
        lambda s: streaming_first_seen(s, "k", n_expected=n_expected, fpp=fpp),
        "first_seen",
        out_mode="append",
        cache_key=f"{sf_dir}|documents-md5|h3",
    )[["k"]]
    exact = int(docs.select(F.countDistinct("k")).first()[0])
    emitted = len(out)
    rows = [
        (
            exact,
            bool(out["k"].is_unique),
            bool(emitted <= exact),
            bool(emitted >= (1 - 3 * fpp) * exact),
        )
    ]
    return spark.createDataFrame(
        rows,
        "exact_distinct long, no_duplicate_emissions boolean, "
        "no_overcount boolean, coverage_ok boolean",
    )


_STREAMING_DEDUP_SQL = """
SELECT COUNT(DISTINCT md5(text)) AS exact_distinct,
       TRUE AS no_duplicate_emissions,
       TRUE AS no_overcount,
       TRUE AS coverage_ok
FROM documents
"""


_BUDGET_TOP_K = 200
_BUDGET_CHARS_PER_PIECE = 4


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware per-document token budget: corpus-derived top-200
    vocabulary counts as single tokens, out-of-vocab words estimate
    ceil(len/4) pieces — the model-token budgeting approximation
    (functions/tokenbudget.py); oracle replays the identical vocabulary
    CTE and CASE formula."""
    from bloomfilter_spark.functions.tokenbudget import token_budget

    docs = _t(spark, sf_dir, "documents")
    return token_budget(
        docs,
        "doc_id",
        "text",
        top_k=_BUDGET_TOP_K,
        chars_per_piece=_BUDGET_CHARS_PER_PIECE,
    ).orderBy("doc_id")


_TOKEN_BUDGET_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
                                        '\\s+'), t -> t <> '') AS ts
  FROM documents
), vocab AS (
  SELECT word FROM (
    SELECT UNNEST(list_distinct(ts)) AS word FROM toks
  ) GROUP BY word
  ORDER BY COUNT(*) DESC, word
  LIMIT {_BUDGET_TOP_K}
), words AS (
  -- [NULL] for token-less docs mirrors Spark's explode_outer: the doc
  -- survives with n_words = 0 instead of vanishing
  SELECT doc_id,
         UNNEST(CASE WHEN len(ts) = 0 THEN [CAST(NULL AS VARCHAR)]
                ELSE ts END) AS word
  FROM toks
), scored AS (
  SELECT w.doc_id,
         CASE WHEN w.word IS NULL THEN 0
              WHEN v.word IS NOT NULL THEN 1
              ELSE CAST(CEIL(length(w.word) / {_BUDGET_CHARS_PER_PIECE}.0)
                        AS BIGINT) END AS pieces,
         CASE WHEN w.word IS NULL THEN 0 ELSE 1 END AS is_word
  FROM words w LEFT JOIN vocab v ON w.word = v.word
)
SELECT doc_id,
       CAST(SUM(is_word) AS BIGINT) AS n_words,
       CAST(SUM(pieces) AS BIGINT) AS n_tokens_est
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-overlap estimation (per-source MinHash signatures, full value oracle)
# ---------------------------------------------------------------------------

_OVERLAP_PERMS = 32


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimate via per-source MinHash signatures.

    ONE map-side-combined aggregation builds a 32-permutation signature per
    source (the only shuffle carries n_sources × 32 longs — corpus-size
    independent); a broadcast self-join compares signatures.  The hash is
    the md5_hash60 rule, so the oracle replays the ESTIMATE value-for-value:
    MinHash is an approximation of Jaccard, but a deterministic one, so it
    gets a full value oracle rather than a rows-only check (the
    estimate-vs-exact error bound is pytest-gated in tests/test_overlap.py)."""
    from bloomfilter_spark.operators.overlap import corpus_overlap_minhash

    docs = _t(spark, sf_dir, "documents")
    return corpus_overlap_minhash(
        docs, "text", "source", num_perm=_OVERLAP_PERMS, n=3
    ).orderBy("source_a", "source_b")


def _corpus_overlap_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL
    from bloomfilter_spark.operators.overlap import MERSENNE61, perm_constants

    base_hash = MD5_HASH60_SQL.format(expr="s")
    perms = ", ".join(
        f"({j}, {a}, {c})"
        for j, (a, c) in enumerate(perm_constants(_OVERLAP_PERMS))
    )
    # (a*x + c) mod 2^61-1 in overflow-free 64-bit form via 2^61 ≡ 1:
    # u = a*hi; (u >> 31) + (u & (2^31-1))*2^30 + a*lo + c — identical to
    # the Catalyst expression in operators/overlap.py (same literals)
    return f"""
WITH toks AS (
  SELECT coalesce(source, '(none)') AS grp,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT grp, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
), perms(j, a, c) AS (
  VALUES {perms}
), hashed AS (
  SELECT grp, {base_hash} >> 30 AS hi,
         {base_hash} & {(1 << 30) - 1} AS lo
  FROM sh
), sig AS (
  SELECT grp, j,
         MIN((((hi * a) >> 31) + ((hi * a) & {(1 << 31) - 1}) * {1 << 30}
              + lo * a + c) % {MERSENNE61}) AS m
  FROM hashed CROSS JOIN perms
  GROUP BY grp, j
)
SELECT a.grp AS source_a, b.grp AS source_b,
       ROUND(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) * 1.0
             / {_OVERLAP_PERMS}, 6) AS est_jaccard
FROM sig a JOIN sig b ON a.j = b.j AND a.grp < b.grp
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# HTML→text extraction differential (north-rule byte-identity, oracle-gated)
# ---------------------------------------------------------------------------


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction roundtrip, oracle-gated end to end.

    Builds a deterministic html page around each row's sanitized text
    (printable ASCII with '<'/'>' removed, so user text can never open a
    tag or embed whitespace the two engines class differently), runs the
    REAL versioned extractor (functions/text.py, the pandas-UDF path the
    pages fixture is generated by), and emits the extracted text.  The
    oracle computes the expected-by-construction result — head/script/style
    blocks and tags dropped, whitespace collapsed, trimmed — so any drift
    in the extraction chain (regex order, whitespace class, decode policy)
    is a VALUE mismatch: this upgrades the north rule's byte-identical-
    extraction contract (BASELINE.json input_hint) from pytest-golden-only
    to driver-oracle-gated."""
    from bloomfilter_spark.functions.text import with_extracted_text

    docs = _t(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"[^ -~]", " "),
        r"[<>]",
        " ",
    )
    html = F.concat(
        F.lit(
            "<html><head><title>doc</title><style>p { color: #000 }</style>"
            "</head><body><p>"
        ),
        clean,
        F.lit("</p><script>var x = 1;</script></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    out = with_extracted_text(pages, "html", "text_out")
    return out.select(
        "doc_id",
        "text_out",
        F.length("text_out").cast("long").alias("n_out"),
    ).orderBy("doc_id")


_EXTRACT_TEXT_SQL = """
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(coalesce(text, ''), '[^ -~]', ' ', 'g'),
             '[<>]', ' ', 'g'),
           ' +', ' ', 'g')) AS text_out
  FROM documents
)
SELECT doc_id, text_out, CAST(length(text_out) AS BIGINT) AS n_out
FROM cleaned ORDER BY doc_id NULLS FIRST
"""


# ---------------------------------------------------------------------------
# One-scan table profiler (operators/profile.py)
# ---------------------------------------------------------------------------


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile the documents table in ONE sketch scan: exact fields
    (counts, nulls, min/max, mean, string length stats, lexicographic
    min/max) are value-checked against DuckDB; sketch fields (HLL
    distinct, KLL median, Misra-Gries top-1) surface as bound-check
    booleans plus the exact quantities the oracle recomputes.  top-1
    value/count are EXACT (from the replay pass below, not the MG
    sketch): once a column's distinct count exceeds MG capacity the
    sketch's counter is an underestimate and its surviving item is not
    SQL-replayable — at sf0.1 the near-all-distinct text column (4992
    distinct > 4096 counters) decrements, which is exactly the regime
    the `top1_ok` boolean gates (est within [exact - N/(k+1), exact] and
    est >= true-top1-count - N/(k+1), the MG guarantees)."""
    from pyspark.sql.window import Window

    from bloomfilter_spark.operators.profile import profile_sketches

    docs = _t(spark, sf_dir, "documents")
    per_col, n_rows, kinds = profile_sketches(docs, freq_capacity=4096, sample_k=4)
    cols = list(kinds)
    num_cols = [c for c, k in kinds.items() if k in ("int", "float")]

    # ONE exact replay pass: distinct counts for every column + exact
    # medians for the numeric ones (gates the sketches' bound booleans)
    aggs = [F.countDistinct(c).alias(f"d_{c}") for c in cols]
    aggs += [F.expr(f"percentile({c}, 0.5)").alias(f"m_{c}") for c in num_cols]
    ex = docs.agg(*aggs).first()

    # Exact per-column top-1 replay (oracle gating, like `ex` above —
    # the scalable answer is the MG sketch, gated by top1_ok): stacked
    # value counts, tie-break = count DESC then TYPED value ASC (numeric
    # order for int/float columns, binary string order otherwise),
    # matching the oracle's ORDER BY COUNT(*) DESC, {col}.
    mg_top: dict[str, tuple[str, int, int]] = {}
    for c in cols:
        fsk = per_col[c].get("freq")
        if fsk is not None and fsk.total:
            t = fsk.topk(1)
            if t:
                mg_top[c] = (str(t[0][0]), int(t[0][1]), int(fsk.error_bound()))
    stack_parts = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    counts = (
        docs.selectExpr(f"stack({len(cols)}, {stack_parts}) AS (col_name, v)")
        .where(F.col("v").isNotNull())
        .groupBy("col_name", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order_num = F.when(
        F.col("col_name").isin(num_cols), F.col("v").cast("double")
    ).otherwise(F.lit(None).cast("double"))
    w = Window.partitionBy("col_name").orderBy(
        F.col("cnt").desc(), order_num.asc_nulls_first(), F.col("v").asc()
    )
    claim_cond = F.lit(False)  # fetch the MG items' exact counts too
    for c, (v, _, _) in mg_top.items():
        claim_cond = claim_cond | (
            (F.col("col_name") == F.lit(c)) & (F.col("v") == F.lit(v))
        )
    top_exact: dict[str, tuple[str, int]] = {}
    claim_cnt: dict[str, int] = {}
    for r in (
        counts.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) | claim_cond)
        .collect()
    ):
        if r["rn"] == 1:
            top_exact[r["col_name"]] = (r["v"], int(r["cnt"]))
        if r["col_name"] in mg_top and r["v"] == mg_top[r["col_name"]][0]:
            claim_cnt[r["col_name"]] = int(r["cnt"])

    rows = []
    for c in cols:
        sks = per_col[c]
        exact_distinct = int(ex[f"d_{c}"])
        hll_ok = True  # vacuously-true when no HLL (NULL-boolean rule above)
        if "hll" in sks:
            hll = sks["hll"]
            hll_ok = bool(
                abs(hll.estimate() - exact_distinct) / max(1, exact_distinct)
                <= 4 * hll.relative_error
            )
        # vacuously-true when not applicable: a NULL boolean converts
        # nondeterministically (None vs NaN) through Arrow->pandas, which
        # flips the value-hash between runs of the driver compare
        q50_ok = True
        mean = min_num = max_num = None
        min_str = max_str = avg_len = None
        len_min = len_max = None
        if "moments" in sks:
            mo = sks["moments"]
            mean, min_num, max_num = mo.mean(), mo.min(), mo.max()
        if "kll" in sks and sks["kll"].n_added:
            kll = sks["kll"]
            exact_med = float(ex[f"m_{c}"])
            q50_ok = bool(abs(kll.rank(exact_med) - 0.5) <= kll.rank_error() + 0.015)
        if "strstats" in sks:
            ss = sks["strstats"]
            min_str, max_str = ss.min_value(), ss.max_value()
            len_min = int(ss.len_min) if ss.n else None
            len_max = int(ss.len_max) if ss.n else None
            avg_len = ss.avg_len()
            n_values = ss.n
        else:
            n_values = sks["moments"].n_added
        top1_value = top1_count = None
        if c in top_exact:
            top1_value, top1_count = top_exact[c][0], top_exact[c][1]
        top1_ok = True  # vacuously-true when the column carries no MG sketch
        if c in mg_top:
            _, est, bound = mg_top[c]
            exact_cnt = claim_cnt.get(c, 0)
            top1_ok = bool(
                exact_cnt - bound <= est <= exact_cnt
                and (top1_count is None or est >= top1_count - bound)
            )
        # KMV example-value sample is a pure function of the value SET, so
        # it is FULL-value checkable: the oracle replays it as
        # ORDER BY md5(v) LIMIT k over the distinct values.
        sample_vals = None
        if "sample" in sks:
            sample_vals = ",".join(sks["sample"].values())
        rows.append(
            (
                c, n_rows, n_rows - n_values, exact_distinct,
                min_num, max_num, mean,
                min_str, max_str, len_min, len_max, avg_len,
                top1_value, top1_count, sample_vals, hll_ok, q50_ok,
                top1_ok,
            )
        )
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, n_nulls long, n_distinct long, "
        "min_num double, max_num double, mean_val double, "
        "min_str string, max_str string, len_min long, len_max long, "
        "avg_len double, top1_value string, top1_count long, "
        "sample_vals string, hll_ok boolean, q50_ok boolean, "
        "top1_ok boolean",
    )


def _profile_num_block(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_num,
       CAST(MAX({c}) AS DOUBLE) AS max_num,
       AVG({c}) AS mean_val,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       CAST(NULL AS BIGINT) AS len_min, CAST(NULL AS BIGINT) AS len_max,
       CAST(NULL AS DOUBLE) AS avg_len,
       (SELECT CAST({c} AS VARCHAR) FROM documents WHERE {c} IS NOT NULL
        GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top1_value,
       (SELECT COUNT(*) FROM documents WHERE {c} IS NOT NULL
        GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top1_count,
       (SELECT STRING_AGG(v, ',' ORDER BY h) FROM
         (SELECT v, md5(v) AS h FROM
           (SELECT DISTINCT CAST({c} AS VARCHAR) AS v FROM documents
            WHERE {c} IS NOT NULL)
          ORDER BY h LIMIT 4) st) AS sample_vals,
       TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS top1_ok
FROM documents"""


def _profile_str_block(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       CAST(NULL AS DOUBLE) AS mean_val,
       MIN({c}) AS min_str, MAX({c}) AS max_str,
       MIN(LENGTH({c})) AS len_min, MAX(LENGTH({c})) AS len_max,
       AVG(LENGTH({c})) AS avg_len,
       (SELECT {c} FROM documents WHERE {c} IS NOT NULL
        GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top1_value,
       (SELECT COUNT(*) FROM documents WHERE {c} IS NOT NULL
        GROUP BY {c} ORDER BY COUNT(*) DESC, {c} LIMIT 1) AS top1_count,
       (SELECT STRING_AGG(v, ',' ORDER BY h) FROM
         (SELECT v, md5(v) AS h FROM
           (SELECT DISTINCT {c} AS v FROM documents WHERE {c} IS NOT NULL)
          ORDER BY h LIMIT 4) st) AS sample_vals,
       TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS top1_ok
FROM documents"""


_TABLE_PROFILE_SQL = " UNION ALL ".join(
    [
        _profile_num_block("doc_id"),
        _profile_str_block("text"),
        _profile_str_block("lang"),
        _profile_str_block("source"),
        _profile_num_block("n_chars"),
    ]
)


# ---------------------------------------------------------------------------
# Snapshot distribution drift (operators/drift.py)
# ---------------------------------------------------------------------------


def q_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based drift between two deterministic snapshots carved from
    documents (same membership mods as the CDC diff query, plus a planted
    numeric shift and a lang remap so every metric has real signal).

    The PRODUCT is `snapshot_drift` (two independent one-scan sketch
    profiles, driver-side compare — snapshots never co-shuffle); the
    exact KS / distinct-novelty replays below exist only to gate the
    sketch estimates for the oracle, mirroring the KLL/HLL query pattern.
    Exact KS goes through exact_ks_distance (groupBy-distinct counts +
    range-shuffle prefix sum, VERDICT r4 #4) — no single-partition
    WindowExec anywhere in this query.  TV distances are emitted as
    values: Misra-Gries is exact below capacity, so at oracle scale the
    sketch TV equals the SQL replay."""
    from bloomfilter_spark.operators.drift import exact_ks_distances, snapshot_drift

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.pmod("doc_id", F.lit(5)) != 0)
    b = (
        docs.filter(F.pmod("doc_id", F.lit(3)) != 0)
        .withColumn(
            "n_chars",
            F.when(
                F.pmod("doc_id", F.lit(4)) == 0, F.col("n_chars") + 20
            ).otherwise(F.col("n_chars")),
        )
        .withColumn(
            "lang",
            F.when(F.pmod("doc_id", F.lit(6)) == 0, F.lit("de")).otherwise(
                F.col("lang")
            ),
        )
    )
    drift = {
        r["column"]: r
        for r in snapshot_drift(
            a, b, columns=["doc_id", "n_chars", "lang"]
        ).collect()
    }

    # one stacked pass for BOTH int columns' exact-KS replays — the
    # serial per-column version paid the groupBy + range shuffle +
    # prefix-sum offsets job twice for identical layouts
    ks_exact = exact_ks_distances(a, b, ["doc_id", "n_chars"])

    def exact_ks(c: str) -> float:
        return ks_exact[c]

    # exact novelty/distinct replay for ALL columns in ONE aggregation
    # (stack to (col_name, v), presence flags per side, two-level agg) —
    # the per-column subtract/count/count version launched 9 serial jobs
    # for identical integers; NULL groups like EXCEPT's null-safe equality
    stack_expr = (
        "stack(3, 'doc_id', cast(doc_id as string), "
        "'n_chars', cast(n_chars as string), 'lang', lang) AS (col_name, v)"
    )
    stacked = (
        a.selectExpr(stack_expr).withColumn("s", F.lit(0))
        .unionAll(b.selectExpr(stack_expr).withColumn("s", F.lit(1)))
        .groupBy("col_name", "v")
        .agg(
            F.max(F.col("s") == 0).alias("in_a"),
            F.max(F.col("s") == 1).alias("in_b"),
        )
        .groupBy("col_name")
        .agg(
            F.sum((F.col("in_b") & ~F.col("in_a")).cast("long")).alias("novel"),
            F.sum(F.col("in_a").cast("long")).alias("dist_a"),
            F.count("*").alias("dist_union"),
        )
    )
    novelty = {r["col_name"]: r for r in stacked.collect()}

    def exact_novel(c: str) -> tuple[int, int, int]:
        r = novelty[c]
        return int(r["novel"]), int(r["dist_a"]), int(r["dist_union"])

    rows = []
    for c in ("doc_id", "n_chars", "lang"):
        d = drift[c]
        if d["kind"] == "int":
            ks_ex = exact_ks(c)
            ks_ok = bool(abs(d["ks_est"] - ks_ex) <= d["ks_bound"] + 0.005)
            mean_a, mean_b = d["mean_a"], d["mean_b"]
        else:
            # ks_ok vacuously true (same NULL-boolean hash-flakiness rule)
            ks_ex, ks_ok, mean_a, mean_b = None, True, None, None
        novel, dist_a, dist_union = exact_novel(c)
        relerr = 4 * 1.04 / (2**14) ** 0.5
        novel_ok = bool(
            abs(d["novel_b_est"] - novel) <= relerr * (dist_a + dist_union) + 2
        )
        rows.append(
            (
                c, d["n_a"], d["n_b"], mean_a, mean_b,
                ks_ex, ks_ok, d["tv_est"], novel, novel_ok,
            )
        )
    return spark.createDataFrame(
        rows,
        "col_name string, n_a long, n_b long, mean_a double, mean_b double, "
        "ks_exact double, ks_ok boolean, tv_exact double, "
        "novel_exact long, novel_ok boolean",
    ).orderBy("col_name")


_DRIFT_SNAPSHOTS_SQL = """
a AS (
  SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 5 <> 0
), b AS (
  SELECT doc_id,
         n_chars + CASE WHEN doc_id % 4 = 0 THEN 20 ELSE 0 END AS n_chars,
         CASE WHEN doc_id % 6 = 0 THEN 'de' ELSE lang END AS lang
  FROM documents WHERE doc_id % 3 <> 0
)"""


def _drift_num_block(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       (SELECT COUNT({c}) FROM a) AS n_a,
       (SELECT COUNT({c}) FROM b) AS n_b,
       (SELECT AVG({c}) FROM a) AS mean_a,
       (SELECT AVG({c}) FROM b) AS mean_b,
       (SELECT MAX(ABS(
           CAST(ca AS DOUBLE) / (SELECT COUNT({c}) FROM a)
         - CAST(cb AS DOUBLE) / (SELECT COUNT({c}) FROM b)))
        FROM (
          SELECT SUM(ia) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS ca,
                 SUM(ib) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cb
          FROM (SELECT {c} AS v, 1 AS ia, 0 AS ib FROM a WHERE {c} IS NOT NULL
                UNION ALL
                SELECT {c} AS v, 0 AS ia, 1 AS ib FROM b WHERE {c} IS NOT NULL)
        )) AS ks_exact,
       TRUE AS ks_ok,
       (SELECT 0.5 * SUM(ABS(COALESCE(pa.p, 0) - COALESCE(pb.p, 0)))
        FROM (SELECT {c} AS k, COUNT(*) / CAST((SELECT COUNT({c}) FROM a) AS DOUBLE) AS p
              FROM a WHERE {c} IS NOT NULL GROUP BY {c}) pa
        FULL OUTER JOIN
             (SELECT {c} AS k, COUNT(*) / CAST((SELECT COUNT({c}) FROM b) AS DOUBLE) AS p
              FROM b WHERE {c} IS NOT NULL GROUP BY {c}) pb
        USING (k)) AS tv_exact,
       (SELECT COUNT(*) FROM
          (SELECT DISTINCT {c} FROM b EXCEPT SELECT DISTINCT {c} FROM a)) AS novel_exact,
       TRUE AS novel_ok"""


def _drift_str_block(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name,
       (SELECT COUNT({c}) FROM a) AS n_a,
       (SELECT COUNT({c}) FROM b) AS n_b,
       CAST(NULL AS DOUBLE) AS mean_a, CAST(NULL AS DOUBLE) AS mean_b,
       CAST(NULL AS DOUBLE) AS ks_exact, TRUE AS ks_ok,
       (SELECT 0.5 * SUM(ABS(COALESCE(pa.p, 0) - COALESCE(pb.p, 0)))
        FROM (SELECT {c} AS k, COUNT(*) / CAST((SELECT COUNT({c}) FROM a) AS DOUBLE) AS p
              FROM a WHERE {c} IS NOT NULL GROUP BY {c}) pa
        FULL OUTER JOIN
             (SELECT {c} AS k, COUNT(*) / CAST((SELECT COUNT({c}) FROM b) AS DOUBLE) AS p
              FROM b WHERE {c} IS NOT NULL GROUP BY {c}) pb
        USING (k)) AS tv_exact,
       (SELECT COUNT(*) FROM
          (SELECT DISTINCT {c} FROM b EXCEPT SELECT DISTINCT {c} FROM a)) AS novel_exact,
       TRUE AS novel_ok"""


_SNAPSHOT_DRIFT_SQL = (
    "WITH "
    + _DRIFT_SNAPSHOTS_SQL
    + _drift_num_block("doc_id")
    + " UNION ALL "
    + _drift_num_block("n_chars")
    + " UNION ALL "
    + _drift_str_block("lang")
    + " ORDER BY col_name"
)


# ---------------------------------------------------------------------------
# Tokenizer-aware token budgeting (functions/tokenize.py)
# ---------------------------------------------------------------------------


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE token accounting with a vocab trained
    deterministically on a fixed corpus sample (docs with doc_id % 7 = 0,
    first 64 by id — tokenizer training on a bounded sample is standard
    practice; the APPLY side is the map-only scale path).

    FULL-value-checked fields: per-lang doc/byte/pre-token counts (the
    pre-tokenizer regex is engine-portable: Java == RE2 == Python re) and
    the no-merge degenerate identity tokens == bytes exercised through
    the SAME mapInPandas encoder.  The merge loop is non-SQL-expressible;
    it carries the differential + roundtrip pytest contracts
    (tests/test_tokenize.py) plus the recon/bounds booleans here
    (pre-token count <= BPE token count <= byte count, per doc)."""
    from bloomfilter_spark.functions.tokenize import (
        bpe_token_stats,
        train_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    sample = [
        r["text"]
        for r in docs.filter("doc_id % 7 = 0 AND text IS NOT NULL")
        .orderBy("doc_id")
        .limit(64)
        .collect()
    ]
    merges = train_bpe_merges(sample, 256)
    st = bpe_token_stats(docs, merges, passthrough=("lang",))
    st0 = bpe_token_stats(docs, [], passthrough=("lang",))
    both = st.withColumn("__m", F.lit(1)).unionByName(
        st0.withColumn("__m", F.lit(0))
    )
    return (
        both.groupBy("lang")
        .agg(
            F.sum("__m").alias("n_docs"),
            F.sum(F.when(F.col("__m") == 1, F.col("n_bytes"))).alias(
                "sum_bytes"
            ),
            F.sum(F.when(F.col("__m") == 1, F.col("n_pretokens"))).alias(
                "sum_pretokens"
            ),
            F.sum(F.when(F.col("__m") == 0, F.col("n_bpe_tokens"))).alias(
                "sum_byte_tokens"
            ),
            F.min(F.col("recon_ok").cast("int")).cast("boolean").alias(
                "recon_ok"
            ),
            F.min(
                F.when(
                    F.col("__m") == 1,
                    F.col("n_bpe_tokens")
                    .between(F.col("n_pretokens"), F.col("n_bytes"))
                    .cast("int"),
                )
            )
            .cast("boolean")
            .alias("bounds_ok"),
        )
        .orderBy(F.col("lang").asc_nulls_first())
    )


def _bpe_token_stats_oracle_sql() -> str:
    from bloomfilter_spark.functions.tokenize import pretoken_count_sql

    return f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
       CAST(SUM({pretoken_count_sql('text')}) AS BIGINT) AS sum_pretokens,
       CAST(SUM(strlen(text)) AS BIGINT) AS sum_byte_tokens,
       TRUE AS recon_ok, TRUE AS bounds_ok
FROM documents WHERE text IS NOT NULL
GROUP BY lang ORDER BY lang NULLS FIRST
"""


_TOKEN_PACK_TARGET = 2048  # tokens per training shard at oracle scale


def q_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing for a training epoch: per-document token
    counts from the tokenizer UDF (functions/tokenize.py) feed the SAME
    global-prefix-sum packer as byte packing — count → salted epoch order
    → greedy pack, one range shuffle total, no single-reducer window.

    Walk order is md5('ep1:' || doc_id): re-shuffling between epochs is a
    salt change and the whole layout stays content-deterministic, so the
    oracle replays every offset with SUM() OVER (ORDER BY).  Pre-token
    counts keep the oracle FULL-value (engine-portable regex — see
    bpe_token_stats); packing by a trained-vocab BPE count is the same
    call with `merges` passed (covered by the tokenizer differential)."""
    from bloomfilter_spark.functions.hashing import md5_hash60
    from bloomfilter_spark.functions.tokenize import bpe_token_stats
    from bloomfilter_spark.operators.packing import pack_shards, shard_summary

    docs = _t(spark, sf_dir, "documents")
    counts = bpe_token_stats(docs, []).select("doc_id", "n_pretokens")
    keyed = counts.withColumn(
        "ok",
        md5_hash60(
            F.concat(
                F.lit("ep1:"),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("")),
            )
        ),
    )
    packed = pack_shards(keyed, ["ok", "doc_id"], "n_pretokens", _TOKEN_PACK_TARGET)
    return (
        shard_summary(packed, "n_pretokens")
        .select(
            "shard_id",
            "n_docs",
            F.col("shard_bytes").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )


def _pack_token_shards_oracle_sql() -> str:
    from bloomfilter_spark.functions.hashing import MD5_HASH60_SQL
    from bloomfilter_spark.functions.tokenize import pretoken_count_sql

    ok = MD5_HASH60_SQL.format(
        expr="'ep1:' || COALESCE(CAST(doc_id AS VARCHAR), '')"
    )
    return f"""
WITH h AS (
  SELECT doc_id, CAST({pretoken_count_sql('text')} AS BIGINT) AS sz, {ok} AS ok
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT sz,
         SUM(sz) OVER (ORDER BY ok, doc_id NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM h
)
SELECT CAST((run - sz) // {_TOKEN_PACK_TARGET} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(sz) AS BIGINT) AS shard_tokens
FROM c GROUP BY shard_id ORDER BY shard_id
"""


QUERIES2 = {
    "bpe_token_stats": q_bpe_token_stats,
    "pack_token_shards": q_pack_token_shards,
    "token_budget": q_token_budget,
    "corpus_overlap": q_corpus_overlap,
    "extract_text": q_extract_text,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_repetition": q_text_repetition,
    "dup_span_stats": q_dup_span_stats,
    "dedup_span_removal": q_dedup_span_removal,
    "line_dedup_removal": q_line_dedup_removal,
    "lm_perplexity": q_lm_perplexity,
    "skew_report": q_skew_report,
    "sessionize_events": q_sessionize_events,
    "asof_click_error": q_asof_click_error,
    "streaming_sessions": q_streaming_sessions,
    "bm25_search": q_bm25_search,
    "bm25_indexed": q_bm25_indexed,
    "hybrid_search": q_hybrid_search,
    "bloom_skip_lookup": q_bloom_skip_lookup,
    "chunk_documents": q_chunk_documents,
    "pii_redaction": q_pii_redaction,
    "url_normalize": q_url_normalize,
    "tfidf_vectors": q_tfidf_vectors,
    "json_props_stats": q_json_props_stats,
    "snapshot_diff": q_snapshot_diff,
    "iceberg_snapshot_read": q_iceberg_snapshot_read,
    "iceberg_incremental_build": q_iceberg_incremental_build,
    "compression_filter": q_compression_filter,
    "lang_id_counts": q_lang_id_counts,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_best": q_dedup_clusters_best,
    "decontaminate_ngrams": q_decontaminate_ngrams,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_verified": q_dedup_minhash_verified,
    "dedup_simhash": q_dedup_simhash,
    "doc_fingerprints": q_doc_fingerprints,
    "ann_topk_cosine": q_ann_topk_cosine,
    "ann_neardup_pairs": q_ann_neardup_pairs,
    "ann_neardup_srp": q_ann_neardup_srp,
    "ann_ivf_topk": q_ann_ivf_topk,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "sample_stratified": q_sample_stratified,
    "pack_shards": q_pack_shards,
    "mix_corpus": q_mix_corpus,
    "classifier_score": q_classifier_score,
    "ngram_counts": q_ngram_counts,
    "sample_k_per_lang": q_sample_k_per_lang,
    "sample_weighted": q_sample_weighted,
    "dedup_incremental": q_dedup_incremental,
    "filter_top_quality": q_filter_top_quality,
    "multimodal_features": q_multimodal_features,
    "multimodal_decode": q_multimodal_decode,
    "pages_sketch_suite": q_pages_sketch_suite,
    "pages_suite_checkpointed": q_pages_suite_checkpointed,
    "streaming_grouped_hll": q_streaming_grouped_hll,
    "streaming_topk_users": q_streaming_topk_users,
    "streaming_cms_counts": q_streaming_cms_counts,
    "streaming_quantiles": q_streaming_quantiles,
    "streaming_dedup_first_seen": q_streaming_dedup_first_seen,
    "streaming_dedup_windowed": q_streaming_dedup_windowed,
    "table_profile": q_table_profile,
    "snapshot_drift": q_snapshot_drift,
}

ORACLES2 = {
    "bpe_token_stats": _bpe_token_stats_oracle_sql(),
    "pack_token_shards": _pack_token_shards_oracle_sql(),
    "token_budget": _TOKEN_BUDGET_SQL,
    "corpus_overlap": _corpus_overlap_oracle_sql(),
    "extract_text": _EXTRACT_TEXT_SQL,
    "text_token_stats": _TOKEN_STATS_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "text_repetition": _TEXT_REPETITION_SQL,
    "dup_span_stats": _DUP_SPANS_SQL,
    "dedup_span_removal": _SPAN_REMOVAL_SQL,
    "line_dedup_removal": _LINE_DEDUP_SQL,
    "lm_perplexity": _LM_PERPLEXITY_SQL,
    "skew_report": _SKEW_REPORT_SQL,
    "sessionize_events": _SESSIONIZE_SQL,
    "asof_click_error": _ASOF_SQL,
    "streaming_sessions": _SESSIONIZE_SQL,
    "bm25_search": _BM25_SQL,
    "bm25_indexed": _BM25_SQL,
    "hybrid_search": _HYBRID_SQL,
    "bloom_skip_lookup": _BLOOM_SKIP_SQL,
    "chunk_documents": _CHUNK_SQL,
    "pii_redaction": _pii_oracle_sql(),
    "url_normalize": _URL_NORMALIZE_SQL,
    "tfidf_vectors": _TFIDF_SQL,
    "json_props_stats": _JSON_PROPS_SQL,
    "snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "iceberg_snapshot_read": _ICEBERG_SNAPSHOT_SQL,
    "iceberg_incremental_build": _ICEBERG_INCREMENTAL_SQL,
    "lang_id_counts": _LANG_ID_SQL,
    "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_clusters_best": _DEDUP_CLUSTERS_BEST_SQL,
    "decontaminate_ngrams": _DECONTAMINATE_SQL,
    "dedup_minhash_verified": _MINHASH_VERIFIED_SQL,
    "dedup_simhash": _SIMHASH_SQL,
    "doc_fingerprints": _fingerprints_oracle_sql(),
    "ann_topk_cosine": _ANN_TOPK_SQL,
    "ann_neardup_pairs": _ANN_NEARDUP_SQL,
    "ann_neardup_srp": _ANN_NEARDUP_SRP_SQL,
    "pipeline_clean_corpus": _CLEAN_CORPUS_SQL,
    "sample_stratified": _sample_oracle_sql(),
    "pack_shards": _pack_shards_oracle_sql(),
    "mix_corpus": _mix_corpus_oracle_sql(),
    "classifier_score": _CLASSIFIER_SQL,
    "ngram_counts": _NGRAM_COUNTS_SQL,
    "sample_k_per_lang": _sample_k_per_lang_oracle_sql(),
    "sample_weighted": _sample_weighted_oracle_sql(),
    "dedup_incremental": _dedup_incremental_oracle_sql(),
    "filter_top_quality": _filter_top_quality_oracle_sql(),
    "multimodal_features": _MULTIMODAL_FEATURES_SQL,
    "multimodal_decode": _MULTIMODAL_DECODE_SQL,
    "pages_sketch_suite": _pages_suite_oracle_sql(),
    "pages_suite_checkpointed": _pages_resume_oracle_sql(),
    "streaming_grouped_hll": _STREAMING_GROUPED_SQL,
    "streaming_topk_users": _STREAMING_TOPK_SQL,
    "streaming_cms_counts": _STREAMING_CMS_SQL,
    "streaming_quantiles": _STREAMING_QUANTILES_SQL,
    "streaming_dedup_first_seen": _STREAMING_DEDUP_SQL,
    "streaming_dedup_windowed": _STREAMING_WINDOWED_SQL,
    "table_profile": _TABLE_PROFILE_SQL,
    "snapshot_drift": _SNAPSHOT_DRIFT_SQL,
}
