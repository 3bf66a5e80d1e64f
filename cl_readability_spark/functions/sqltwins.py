"""Oracle-checkable query twins.

Each entry exists twice, by construction in lock-step:
- a DataFrame builder ``(spark, sf_dir) -> DataFrame`` (JVM-side expressions
  only — no Python UDFs in any of these), and
- an ANSI-SQL string for DuckDB over the same parquet views.

They cover the SQL-expressible sub-operators of the extraction engine
(normalize-spaces readability.lisp:60-67, word-count utils.lisp:13-16,
class-weight readability.lisp:425-440, readerable scoring readability.lisp:
634-668, ordering/resume/rollup SURVEY §2.11) plus training-data-pipeline
ops (exact dedup, fingerprinting, token counting, quality scoring, ANN).

Determinism rules used throughout so the driver's order-insensitive
value-hash matches: integer arithmetic where an order-dependent float sum
would be ambiguous; float outputs scaled to integers (basis points /
×10000) so the driver's value hash never touches a double; explicit BIGINT
casts to align Spark/DuckDB integer widths.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# case-insensitive inline-flag variants of the scoring regexes
# (regex.lisp:15-19), usable verbatim by both Java regex and DuckDB RE2
POSITIVE_RE = (
    "(?i)article|body|content|entry|hentry|h-entry|main|page|pagination|post"
    "|text|blog|story"
)
NEGATIVE_RE = (
    "(?i)-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact"
    "|foot|footer|footnote|gdpr|masthead|media|meta|outbrain|promo|related"
    "|scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|tool|widget"
)

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on", "for", "with"]

# PII scrub patterns (functions/curation.py redact_pii re-exports these;
# the full precision/order rationale lives on that re-export's comment).
# Valid in BOTH Java regex (Spark regexp_replace) and RE2 (the DuckDB
# oracle): no lookaround, no backrefs, non-capturing groups only.
# ORDER IS SIGNIFICANT — applied top to bottom.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{4}[- ]){3}\d{4}\b|\b\d{16}\b", "[CARD]"),
    (r"\+\d{1,3}[-. ]?\(?\d{1,4}\)?(?:[-. ]?\d{2,4}){2,3}\b"
     r"|(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b", "[PHONE]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IPV4]"),
)
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# --- C4 line/page cleaning pattern literals (Raffel et al. 2020 §2.2).
# functions/curation.py:c4_filters builds the Spark expressions and
# SQL_C4_PLANTED builds the DuckDB oracle from these SAME literals, so
# the two engines are in lockstep by construction.  Valid in BOTH Java
# regex and RE2: no lookaround, ``[^\n]`` instead of ``.`` (Java's dot
# excludes \r and the unicode line separators, RE2's only \n), explicit
# whitespace classes (java \s and RE2 \s disagree on U+000B), and the
# Spark side prepends ``(?d)`` (UNIX_LINES) so Java's multiline ^ treats
# ONLY \n as a line break — which RE2 always does.  Line filters apply
# to ``text || '\n'`` with a MANDATORY trailing \n in each pattern (the
# "terminator convention"): no pattern can match the empty string, so
# the engines' divergent empty-match behaviors never engage (probed:
# RE2 double-counts interior empty lines under ^...$, Java refuses ^ at
# end-of-input; with the mandatory \n both agree on every case of the
# randomized differential suite in tests/test_curation.py).
C4_INTRA_WS = r"[ \t\f\r]"  # intra-line ws (NOT \x0b: VT is word-
#                             internal, matching gopher_flags' class)
C4_NONWS = r"[^ \t\f\r\n]"  # one word character (non-ws, non-newline)
C4_JS_LINE_RE = r"(?i:[^\n]*javascript[^\n]*)"
C4_NO_TERMINAL_RE = r"[^\n]*[^ \t\f\r\n.!?\"”]" + C4_INTRA_WS + "*"
C4_SENTENCE_RE = r"[.!?]+"  # sentence-terminal runs (count heuristic)


def c4_short_line_re(min_words: int) -> str:
    """Full-line regex matching lines with FEWER than ``min_words``
    whitespace-separated words (word = maximal C4_NONWS run).  For
    ``min_words <= 0`` returns None (nothing is short)."""
    if min_words <= 0:
        return None
    w, nw = C4_INTRA_WS, C4_NONWS
    if min_words == 1:
        return f"{w}*"
    return f"{w}*(?:{nw}+{w}+){{0,{min_words - 2}}}{nw}*{w}*"


def c4_drop_line_re(min_words: int = 3) -> str:
    """The composed drop-line pattern body (no engine prefix): a full
    line matching ANY of javascript / too-few-words / no-terminal-
    punctuation, INCLUDING its mandatory trailing newline."""
    short = c4_short_line_re(min_words)
    alts = [C4_JS_LINE_RE] + ([short] if short else []) + [C4_NO_TERMINAL_RE]
    return "^(?:" + "|".join(alts) + ")\\n"


def c4_badword_re(badwords) -> str:
    """Word-boundary-ish alternation over plain lowercase words for the
    page-level bad-word flag, without ``\\b`` (metachar-free boundary
    classes keep Java and RE2 in lockstep).  Match against lowercased
    text."""
    import re as _re

    alts = "|".join(_re.escape(w) for w in badwords)
    return f"(?:^|[^a-z0-9])(?:{alts})(?:[^a-z0-9]|$)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- 1. normalize_ws (get-inner-text's \s{2,} collapse, SURVEY #10) ---
def q_normalize_ws(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.trim(F.col("text")), r"\s{2,}", " ").alias("norm_text"),
    )


SQL_NORMALIZE_WS = r"""
SELECT doc_id, regexp_replace(trim(text), '\s{2,}', ' ', 'g') AS norm_text
FROM documents
"""


# --- 2. word_count (SURVEY #37) ---
def q_word_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
    )


SQL_WORD_COUNT = r"""
SELECT doc_id,
       CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
FROM documents
"""


# --- 3. text_len (SURVEY #11) ---
def q_text_len(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(F.trim(F.col("text"))).cast("long").alias("n_chars_trim"),
    )


SQL_TEXT_LEN = """
SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars_trim
FROM documents
"""


# --- 4. class_weight (±25 regex scoring applied to the text column,
#     SURVEY #29) ---
def q_class_weight(spark, sf_dir):
    pos = F.when(F.col("text").rlike(POSITIVE_RE), 25).otherwise(0)
    neg = F.when(F.col("text").rlike(NEGATIVE_RE), -25).otherwise(0)
    return _docs(spark, sf_dir).select(
        "doc_id", (pos + neg).cast("long").alias("weight")
    )


SQL_CLASS_WEIGHT = f"""
SELECT doc_id,
       CAST((CASE WHEN regexp_matches(text, '{POSITIVE_RE}') THEN 25 ELSE 0 END)
          + (CASE WHEN regexp_matches(text, '{NEGATIVE_RE}') THEN -25 ELSE 0 END)
         AS BIGINT) AS weight
FROM documents
"""


# --- 5. readerable_score (√(len−140) accumulation per lang, integerized so
#     the cross-engine sum is order-independent; SURVEY #57) ---
def q_readerable_score(spark, sf_dir):
    contrib = F.when(
        F.col("n_chars") >= 140,
        F.floor(F.sqrt(F.col("n_chars") - 140)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum(contrib).alias("sum_sqrt_score"),
            F.sum(F.when(F.col("n_chars") >= 140, 1).otherwise(0))
            .cast("long")
            .alias("n_scored_docs"),
        )
        .withColumn("readerable", F.col("sum_sqrt_score") > 20)
        .orderBy("lang")
    )


SQL_READERABLE_SCORE = """
SELECT lang,
       CAST(SUM(CASE WHEN n_chars >= 140
                     THEN CAST(FLOOR(SQRT(n_chars - 140)) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS sum_sqrt_score,
       CAST(SUM(CASE WHEN n_chars >= 140 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored_docs,
       SUM(CASE WHEN n_chars >= 140
                THEN CAST(FLOOR(SQRT(n_chars - 140)) AS BIGINT)
                ELSE 0 END) > 20 AS readerable
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --- 5b. readerable_triage_sql — the isProbablyReaderable pre-filter
#     (readability.lisp:634-668) as pure JVM expressions over the SAME
#     deterministic HTML the UDF triage sees (documents_as_transcripts):
#     <p>-block extraction by regexp, tag-strip, trimmed length >= 140 →
#     floor(sqrt(len-140)) accumulation, readerable once the sum > 20.
#     This is the at-scale shape SURVEY §3.3 calls for: at 10^12 rows the
#     exact DOM-parsing python triage is a second extraction-scale pass,
#     while this is one scan of JVM regexes (no python workers at all).
#     Approximation vs the exact UDF, by construction: no div>br parents,
#     no unlikely-class gate (the synthetic frame has neither), per-block
#     floor() before the sum (integerized for the cross-engine hash); the
#     per-turn agreement against the exact DOM triage is pinned in
#     tests/test_readerable.py. ---
# (?i) case-insensitive, (?s) dot-matches-newline, \b + [^>]* for
# attributes — real-world <P CLASS=...> paragraphs spanning lines must
# score, not silently extract zero blocks (a bare '<p>(.*?)</p>' would
# filter virtually any non-synthetic corpus to nothing).  The same
# literal works in Java regex and DuckDB RE2, so both twin sides share it.
_TRIAGE_PARA_RE = r"(?is)<p\b[^>]*>(.*?)</p>"
_TRIAGE_TAG_RE = r"(?s)<[^>]+>"


def triage_score_col(html_col):
    paras = F.regexp_extract_all(html_col, F.lit(_TRIAGE_PARA_RE), F.lit(1))

    def contrib(p):
        ln = F.length(F.trim(F.regexp_replace(p, _TRIAGE_TAG_RE, "")))
        return (
            F.when(ln >= 140, F.floor(F.sqrt((ln - 140).cast("double"))))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return F.aggregate(
        F.transform(paras, contrib), F.lit(0).cast("long"), lambda a, x: a + x
    )


def q_readerable_triage_sql(spark, sf_dir):
    from cl_readability_spark.pipeline.transcripts import documents_as_transcripts

    t = documents_as_transcripts(spark, sf_dir)
    return (
        t.select("conv_id", (triage_score_col(F.col("text")) > 20).alias("r"))
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum(F.col("r").cast("long")).alias("n_readerable"),
        )
        .orderBy("conv_id")
    )


# the identical HTML wrapping (pipeline/transcripts.py documents_as_
# transcripts) rebuilt in SQL so DuckDB scores byte-identical <p> blocks;
# KEPT IN LOCKSTEP with _HEADER_HTML/_SIDEBAR_HTML/_FOOTER_HTML there
_TRIAGE_HTML_SQL = (
    "'<html lang=\"' || lang || '\"><head><title>Document ' "
    "|| CAST(doc_id AS VARCHAR) "
    "|| ' Synthetic Benchmark Article | Corpus</title></head><body>' "
    "|| '<div class=\"header\"><ul><li><a href=\"/a\">Home</a></li>' "
    "|| '<li><a href=\"/b\">About</a></li><li><a href=\"/c\">More</a></li></ul></div>' "
    "|| '<div id=\"main\" class=\"article-content\"><p>' "
    "|| regexp_replace(text, '\\. ', '.</p><p>', 'g') || '</p></div>' "
    "|| '<div class=\"sidebar\"><p><a href=\"/r/1\">related one</a> ' "
    "|| '<a href=\"/r/2\">related two</a> <a href=\"/r/3\">related three</a></p></div>' "
    "|| '<div class=\"footer\"><p>Copyright, terms, privacy.</p></div>' "
    "|| '</body></html>'"
)

# the digest turn (pipeline/transcripts.py documents_as_transcripts,
# turn_idx 25): the conversation's docs concatenated into ONE paragraph;
# string_agg(text, ' ' ORDER BY doc_id) is byte-identical to the Spark
# side's array_sort(collect_list(struct(doc_id, text))) + array_join
_TRIAGE_DIGEST_HTML_SQL = (
    "'<html lang=\"en\"><head><title>Conversation ' "
    "|| CAST(doc_id // 25 AS VARCHAR) "
    "|| ' Digest Synthetic Benchmark Article | Corpus</title></head><body>' "
    "|| '<div class=\"header\"><ul><li><a href=\"/a\">Home</a></li>' "
    "|| '<li><a href=\"/b\">About</a></li><li><a href=\"/c\">More</a></li></ul></div>' "
    "|| '<div id=\"main\" class=\"article-content\"><p>' "
    "|| string_agg(text, ' ' ORDER BY doc_id) || '</p></div>' "
    "|| '<div class=\"sidebar\"><p><a href=\"/r/1\">related one</a> ' "
    "|| '<a href=\"/r/2\">related two</a> <a href=\"/r/3\">related three</a></p></div>' "
    "|| '<div class=\"footer\"><p>Copyright, terms, privacy.</p></div>' "
    "|| '</body></html>'"
)

SQL_READERABLE_TRIAGE = f"""
WITH t AS (
  SELECT 'conv-' || CAST(doc_id // 25 AS VARCHAR) AS conv_id,
         {_TRIAGE_HTML_SQL} AS html
  FROM documents
  UNION ALL
  SELECT 'conv-' || CAST(doc_id // 25 AS VARCHAR) AS conv_id,
         {_TRIAGE_DIGEST_HTML_SQL} AS html
  FROM documents
  GROUP BY doc_id // 25
),
scored AS (
  SELECT conv_id,
         COALESCE(list_sum(list_transform(
           regexp_extract_all(html, '{_TRIAGE_PARA_RE}', 1),
           p -> CASE
                  WHEN length(trim(regexp_replace(p, '{_TRIAGE_TAG_RE}', '', 'g'))) >= 140
                  THEN CAST(FLOOR(SQRT(
                       length(trim(regexp_replace(p, '{_TRIAGE_TAG_RE}', '', 'g'))) - 140
                       )) AS BIGINT)
                  ELSE 0
                END)), 0) AS score
  FROM t
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN score > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_readerable
FROM scored
GROUP BY conv_id
ORDER BY conv_id
"""


# --- 6. turn_order (stable ordering window, SURVEY §2.11) ---
def q_turn_order(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("turn_rank")
    )


SQL_TURN_ORDER = """
SELECT doc_id, lang,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS turn_rank
FROM documents
"""


# --- 7. resume_antijoin (checkpoint-resume key complement, SURVEY §2.11) ---
def q_resume_antijoin(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    committed = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return docs.join(committed, on="doc_id", how="left_anti").select("doc_id", "lang")


SQL_RESUME_ANTIJOIN = """
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
"""


# --- 8. metrics_rollup (sidecar-style aggregation, SURVEY §2.11) ---
def q_metrics_rollup(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("rows_cnt"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars") * 10000, 0).cast("long").alias("avg_chars_x10k"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


SQL_METRICS_ROLLUP = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS rows_cnt,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(ROUND(AVG(n_chars) * 10000, 0) AS BIGINT) AS avg_chars_x10k,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --- 8b. rollup_hierarchy (GROUP BY ROLLUP over (lang, length bucket) —
#     the grouping-sets family; subtotal rows' NULLs are coalesced to
#     sentinel labels in BOTH engines so the driver's value hash never
#     compares engine-specific NULL encodings) ---
def q_rollup_hierarchy(spark, sf_dir):
    bucket = F.when(F.col("n_chars") < 500, "short").otherwise("long")
    d = _docs(spark, sf_dir).withColumn("len_bucket", bucket)
    return (
        d.rollup("lang", "len_bucket")
        .agg(
            F.count("*").alias("rows_cnt"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang_g"),
            F.coalesce(F.col("len_bucket"), F.lit("ALL")).alias("bucket_g"),
            "rows_cnt",
            "total_chars",
        )
        .orderBy("lang_g", "bucket_g")
    )


SQL_ROLLUP_HIERARCHY = """
SELECT COALESCE(lang, 'ALL') AS lang_g,
       COALESCE(len_bucket, 'ALL') AS bucket_g,
       CAST(COUNT(*) AS BIGINT) AS rows_cnt,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang,
         CASE WHEN n_chars < 500 THEN 'short' ELSE 'long' END AS len_bucket,
         n_chars
  FROM documents
)
GROUP BY ROLLUP(lang, len_bucket)
ORDER BY lang_g, bucket_g
"""


# --- 9. dedup_exact (hash-groupBy exact dedup over documents) ---
def q_dedup_exact(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS dup_count,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY md5(text)
"""


# --- 10. doc_fingerprint (normalized-content fingerprint) ---
def q_doc_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")).alias(
            "fingerprint"
        ),
    )


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
FROM documents
"""


# --- 10b. rolling_hash (Rabin-Karp polynomial hash over the first 32
#     chars, mod 1e9+7 — the classic rolling-hash fingerprint form,
#     unrolled so both engines compute identical bigints with no overflow:
#     each term < P*128 and the 32-term sum < 2^42) ---
_RH_P = 1_000_000_007
_RH_POWS = [pow(31, 32 - i, _RH_P) for i in range(1, 33)]


def q_rolling_hash(spark, sf_dir):
    terms = None
    for i in range(1, 33):
        t = F.coalesce(F.ascii(F.substring(F.col("text"), i, 1)), F.lit(0)).cast(
            "long"
        ) * F.lit(_RH_POWS[i - 1])
        terms = t if terms is None else terms + t
    return _docs(spark, sf_dir).select(
        "doc_id", (terms % _RH_P).cast("long").alias("rk_hash32")
    )


SQL_ROLLING_HASH = (
    "SELECT doc_id, CAST(("
    + " + ".join(
        f"CAST(COALESCE(ascii(substring(text, {i}, 1)), 0) AS BIGINT)"
        f" * CAST({_RH_POWS[i - 1]} AS BIGINT)"
        for i in range(1, 33)
    )
    + f") % {_RH_P} AS BIGINT) AS rk_hash32 FROM documents"
)


# --- 11. token_count (BPE-ish regex tokenizer) ---
def q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(r"CAST(size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)) AS BIGINT)").alias(
            "n_tokens"
        ),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens
FROM documents
"""


# --- 12. quality_score (length/punct/stopword ratios) ---
def q_quality_score(spark, sf_dir):
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda x: x.isin(STOPWORDS)))
    n_punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"[.,!?;:]", "")
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars_meta"),
        F.round(n_punct * 10000 / F.length(F.col("text")), 0).cast("long").alias("punct_bp"),
        F.round(n_stop * 10000 / n_words, 0).cast("long").alias("stopword_bp"),
        ((F.col("n_chars") >= 100) & (F.col("n_chars") <= 20000)).alias("length_ok"),
    )


SQL_QUALITY_SCORE = rf"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars_meta,
       CAST(ROUND((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
             * 10000 / CAST(length(text) AS DOUBLE), 0) AS BIGINT) AS punct_bp,
       CAST(ROUND(length(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> list_contains({_STOP_SQL}, x)))
             * 10000 / CAST(length(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE),
             0) AS BIGINT) AS stopword_bp,
       n_chars >= 100 AND n_chars <= 20000 AS length_ok
FROM documents
"""


# --- 13. ann_topk (brute-force cosine top-k vs vec_id=0's embedding) ---
def q_ann_topk(spark, sf_dir, k: int = 10):
    embs = _embs(spark, sf_dir)
    query_vec = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), q, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_e = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norm_q = F.sqrt(
        F.aggregate(q, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = F.round(dot * 10000 / (norm_e * norm_q), 0).cast("long")
    return (
        embs.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


SQL_ANN_TOPK = """
SELECT e.vec_id, e.label,
       CAST(ROUND(list_dot_product(e.embedding, q.embedding) * 10000
             / (SQRT(list_dot_product(e.embedding, e.embedding))
                * SQRT(list_dot_product(q.embedding, q.embedding))), 0) AS BIGINT) AS cosine_sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 10
"""


# --- 15. candidate_score — the grab-article scoring formula as a SQL twin
#     (readability-plump.lisp:161-190 / Readability._initializeNode +
#     contentScore update): score = (1 - link_density) * (base + commas + 1
#     + min(len/100, 3) + class_weight).  Node stats are synthesized
#     deterministically from the documents table (tag from doc_id % 9,
#     link-density percent from doc_id % 100, commas/len/weight from text)
#     so a regression in any scoring constant — the tag base table (+5 div,
#     +3 td/pre/blockquote, -3 address/ol, -5 h1/th), the ±25 class weight,
#     the len/100 cap at 3, or the link-density discount — flips the hash. ---
_SCORE_TAGS = ["div", "td", "pre", "blockquote", "address", "ol", "h1", "th", "p"]
# base = 1 + per-tag adjustment (readability-plump.lisp:166-172)
_TAG_BASE = {"div": 6, "td": 4, "pre": 4, "blockquote": 4, "address": -2,
             "ol": -2, "h1": -4, "th": -4, "p": 1}


def q_candidate_score(spark, sf_dir):
    tag = F.element_at(
        F.array(*[F.lit(t) for t in _SCORE_TAGS]),
        (F.col("doc_id") % 9 + 1).cast("int"),
    )
    base = F.element_at(
        F.array(*[F.lit(_TAG_BASE[t]).cast("long") for t in _SCORE_TAGS]),
        (F.col("doc_id") % 9 + 1).cast("int"),
    )
    n_commas = (
        F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), ",", ""))
    ).cast("long")
    len_pts = F.least(F.floor(F.col("n_chars") / 100), F.lit(3)).cast("long")
    weight = (
        F.when(F.col("text").rlike(POSITIVE_RE), 25).otherwise(0)
        + F.when(F.col("text").rlike(NEGATIVE_RE), -25).otherwise(0)
    ).cast("long")
    ld_pct = (F.col("doc_id") % 100).cast("long")
    score = (F.lit(100) - ld_pct) * (base + n_commas + 1 + len_pts + weight)
    return _docs(spark, sf_dir).select(
        "doc_id",
        tag.alias("tag"),
        score.cast("long").alias("score_x100"),
    )


_TAG_CASE = "CASE doc_id % 9 " + " ".join(
    f"WHEN {i} THEN '{t}'" for i, t in enumerate(_SCORE_TAGS)
) + " END"
_BASE_CASE = "CASE doc_id % 9 " + " ".join(
    f"WHEN {i} THEN {_TAG_BASE[t]}" for i, t in enumerate(_SCORE_TAGS)
) + " END"

SQL_CANDIDATE_SCORE = f"""
SELECT doc_id,
       {_TAG_CASE} AS tag,
       CAST((100 - doc_id % 100)
            * ({_BASE_CASE}
               + (length(text) - length(regexp_replace(text, ',', '', 'g')))
               + 1
               + LEAST(CAST(FLOOR(n_chars / 100) AS BIGINT), 3)
               + (CASE WHEN regexp_matches(text, '{POSITIVE_RE}') THEN 25 ELSE 0 END)
               + (CASE WHEN regexp_matches(text, '{NEGATIVE_RE}') THEN -25 ELSE 0 END))
         AS BIGINT) AS score_x100
FROM documents
"""


# --- 15b. link_density — the 0.3 hash-link discount formula
#     (readability.lisp:408-423 / Readability._getLinkDensity): density =
#     Σ over links of len × (0.3 if href starts '#' else 1.0) ÷ total text
#     length.  Per-node link stats synthesized from doc_id (hash-link chars,
#     plain-link chars) over the real n_chars; integerized with ×10 coeffs
#     and FLOOR so the value hash is float-free.  A regression in the 0.3
#     constant or the discount direction flips the hash. ---
def q_link_density(spark, sf_dir):
    hash_len = (F.col("doc_id") % 50).cast("long")
    plain_len = ((F.col("doc_id") * 7) % 97).cast("long")
    ld_x1000 = F.floor(
        (hash_len * 3 + plain_len * 10) * 1000 / (F.col("n_chars") * 10)
    ).cast("long")
    return _docs(spark, sf_dir).select(
        "doc_id",
        hash_len.alias("hash_link_chars"),
        plain_len.alias("plain_link_chars"),
        ld_x1000.alias("link_density_x1000"),
    )


SQL_LINK_DENSITY = """
SELECT doc_id,
       CAST(doc_id % 50 AS BIGINT) AS hash_link_chars,
       CAST((doc_id * 7) % 97 AS BIGINT) AS plain_link_chars,
       CAST(FLOOR(((doc_id % 50) * 3 + ((doc_id * 7) % 97) * 10) * 1000
                  / (n_chars * 10.0)) AS BIGINT) AS link_density_x1000
FROM documents
"""


# --- 16. dedup_minhash_planted — the full shingle→minhash→band→bucket-join
#     →verify pipeline over a deterministic planted-duplicate corpus whose
#     expected output is exactly computable: docs are grouped in tens
#     (group = doc_id DIV 10) and every doc in a group gets the identical
#     40-token synthetic text with group-unique tokens, so (a) within-group
#     pairs have Jaccard exactly 1.0 and — identical shingle sets implying
#     identical signatures and band hashes — are GUARANTEED candidates (no
#     probabilistic recall in the gate), and (b) cross-group token universes
#     are disjoint, Jaccard 0.  The oracle therefore reduces to the
#     group-equality self-join. ---
def q_dedup_minhash_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import minhash_near_dups

    group = F.floor(F.col("doc_id") / 10).cast("long")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.concat(
                F.lit("w"), group.cast("string"), F.lit("_"), j.cast("string")
            ),
        ),
    )
    corpus = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    pairs = minhash_near_dups(corpus, jaccard_threshold=0.99)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("jaccard") * 10000, 0).cast("long").alias("jaccard_x10k"),
    )


SQL_DEDUP_MINHASH_PLANTED = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(10000 AS BIGINT) AS jaccard_x10k
FROM documents a JOIN documents b
  ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
"""


# --- 17. dedup_simhash_planted — the SimHash block-LSH pipeline on the same
#     planted-group corpus.  With max_hamming=0 the expected output is exact:
#     identical texts share the full 64-bit SimHash (every block bucket
#     contains the whole group → all pairs candidates, hamming 0), while
#     cross-group token universes give distinct SimHashes (verified locally;
#     a 64-bit collision would need p≈2^-64).  Candidate generation is
#     pigeonhole-exact, so there is no probabilistic recall in this gate. ---
def q_dedup_simhash_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import simhash_near_dups

    group = F.floor(F.col("doc_id") / 10).cast("long")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.concat(
                F.lit("w"), group.cast("string"), F.lit("_"), j.cast("string")
            ),
        ),
    )
    corpus = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return simhash_near_dups(corpus, max_hamming=0)


SQL_DEDUP_SIMHASH_PLANTED = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
"""


# --- 18. dedup_winnow_planted — the winnowing fingerprint index
#     (rolling k-gram hash → window minima → groupBy-on-fingerprint
#     candidate pairs) over a planted corpus whose collision-pair set is
#     exactly computable: group = doc_id DIV 10, every doc's text is 45
#     repeats of the 8-char word "<group zero-padded to 7 digits><space>".
#     The text is periodic with period 8, so its character 8-grams are
#     EXACTLY the 8 rotations of that word; two such words are rotations
#     of each other only if equal (each contains a single space, which
#     pins the alignment), so cross-group fingerprint sets are disjoint
#     (up to 2^-64 hash collisions, same caveat as the simhash twin) and
#     within-group texts are identical → identical fingerprint sets.
#     Candidate pairs therefore reduce to the group-equality self-join. ---
def q_dedup_winnow_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import (
        winnow_candidates,
        winnow_fingerprints,
    )

    group = F.floor(F.col("doc_id") / 10).cast("long")
    word = F.concat(F.lpad(group.cast("string"), 7, "0"), F.lit(" "))
    corpus = _docs(spark, sf_dir).select(
        "doc_id", F.repeat(word, 45).alias("text")
    )
    fps = winnow_fingerprints(corpus, k=8, window=16)
    return winnow_candidates(fps)


SQL_DEDUP_WINNOW_PLANTED = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b
  ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
"""


# --- 18b. dedup_clusters_planted — the full dedup CHAIN (shingle →
#     minhash → LSH → verified pairs → connected components → cluster
#     representative) on the planted-group corpus: groups are cliques, so
#     every doc's component is its group and the representative (min id)
#     is (doc_id DIV 10) * 10 — exactly computable in SQL.  A regression
#     anywhere in the chain (hashing, banding, verification, label
#     propagation, pointer jumping) flips the hash. ---
def q_dedup_clusters_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import dup_clusters, minhash_near_dups

    group = F.floor(F.col("doc_id") / 10).cast("long")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.concat(
                F.lit("w"), group.cast("string"), F.lit("_"), j.cast("string")
            ),
        ),
    )
    docs = _docs(spark, sf_dir)
    corpus = docs.select("doc_id", text.alias("text"))
    clusters = dup_clusters(minhash_near_dups(corpus, jaccard_threshold=0.99))
    return docs.select("doc_id").join(
        clusters.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_rep"), F.col("doc_id")).cast("long").alias(
            "cluster_rep"
        ),
    )


SQL_DEDUP_CLUSTERS_PLANTED = """
SELECT doc_id, CAST((doc_id // 10) * 10 AS BIGINT) AS cluster_rep
FROM documents
"""


# --- 19. ann_ivf_planted — IVF-flat ANN made hash-verifiable: plant ten
#     positively-scaled copies of the query vector (cosine exactly 1, and
#     argmax cell assignment is scale-invariant, so every planted row
#     provably lives in the query's OWN cell — the one cell probed at
#     n_probe=1).  The true top-10 of the union corpus is exactly the
#     planted set (cosine 10000 ≫ any random dim-64 pair), so the oracle
#     is plain brute force over the same union — a broken cell assignment,
#     probe selection, or in-cell scoring each flip the hash. ---
def q_ann_ivf_planted(spark, sf_dir):
    from cl_readability_spark.functions.similarity import ivf_topk

    embs = _embs(spark, sf_dir)
    query_vec = [float(x) for x in
                 embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    planted = (
        embs.filter(F.col("vec_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"), "embedding"
        )
        .select(
            (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double")
                * (F.lit(1.0) + F.col("i").cast("double") / 100.0),
            ).alias("embedding"),
        )
    )
    corpus = embs.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    topk = ivf_topk(corpus, query_vec, k=10, n_cells=16, n_probe=1)
    return topk.select(
        "vec_id",
        F.round(F.col("cosine_sim") * 10000, 0).cast("long").alias(
            "cosine_sim_x10k"
        ),
    )


SQL_ANN_IVF_PLANTED = """
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
planted AS (
  SELECT 2000000 + i AS vec_id,
         list_transform(q.embedding, x -> x * (1.0 + i / 100.0)) AS embedding
  FROM q, range(1, 11) t(i)
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding
  FROM embeddings WHERE vec_id <> 0
  UNION ALL
  SELECT vec_id, embedding FROM planted
)
SELECT c.vec_id,
       CAST(ROUND(list_dot_product(c.embedding, q.embedding) * 10000
            / (SQRT(list_dot_product(c.embedding, c.embedding))
               * SQRT(list_dot_product(q.embedding, q.embedding))), 0) AS BIGINT)
         AS cosine_sim_x10k
FROM corpus c, q
ORDER BY cosine_sim_x10k DESC, c.vec_id ASC
LIMIT 10
"""


# --- 19b. dedup_embedding_planted — the FULL banded-LSH embedding
#     near-dup pipeline (signature Arrow stage → band buckets → refinement
#     Hamming prefilter → exact-cosine verify) on a corpus whose expected
#     output is exactly computable: vectors are a deterministic hash
#     function of group = vec_id DIV 10, so group members are IDENTICAL —
#     identical signatures in every band (guaranteed candidacy, no
#     probabilistic recall in the gate), hamming-0 refinement signatures
#     (prefilter passes), cosine exactly 1 (→ 10000).  Cross-group chance
#     bucket collisions are killed by the prefilter and, failing that, the
#     0.99 threshold.  The oracle reduces to the group self-join. ---
def q_dedup_embedding_planted(spark, sf_dir):
    from cl_readability_spark.functions.similarity import embedding_near_dups

    group = F.floor(F.col("vec_id") / 10).cast("long")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.pmod(F.xxhash64(F.concat_ws(":", group, i)), F.lit(2001)) - 1000
        ).cast("double")
        / 100.0,
    )
    corpus = _embs(spark, sf_dir).select("vec_id", vec.alias("embedding"))
    return embedding_near_dups(corpus, threshold=0.99, dim=64)


SQL_DEDUP_EMBEDDING_PLANTED = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(10000 AS BIGINT) AS cosine_sim_x10k
FROM embeddings a JOIN embeddings b
  ON a.vec_id // 10 = b.vec_id // 10 AND a.vec_id < b.vec_id
"""


# --- 19c. media_planted — the MULTIMODAL near-dup chain (binary payload →
#     stubbed-but-deterministic feature decode over mapInPandas → banded
#     LSH → Hamming prefilter → exact-cosine verify) made hash-verifiable
#     by the same closed-form construction as dedup_embedding_planted:
#     payloads are a pure function of group = vec_id DIV 3, the fake
#     decoder is a pure function of the payload (sha256-chained floats,
#     multimodal.py:89), so group members have IDENTICAL 16-dim features —
#     guaranteed candidacy in every band, hamming-0 prefilter pass, cosine
#     exactly 1 (→ 10000).  Cross-group sha features concentrate near
#     cosine ~0.75 (non-negative 16-dim), far under the 0.995 threshold,
#     and the prefilter kills chance bucket collisions first.  This is the
#     driver-checked twin for the media plumbing itself: the payload bytes
#     and the Arrow decode stage are INSIDE the hashed chain, unlike
#     dedup_embedding_planted which starts at the vectors. ---
# media_feature_near_dups pins its decoded-feature frame DISK_ONLY and
# hands back a pins release handle — but query-registry harnesses (the
# driver, bench.py) evaluate entries repeatedly and never release, so an
# unmanaged pin would accrete executor storage once per invocation for
# the session's lifetime.  The registry entry therefore rotates: each
# call releases the PREVIOUS invocation's pin (safe — harnesses evaluate
# sequentially, the prior collect is done) before creating its own, so
# outstanding media pins are bounded at ONE per session however many
# times the driver runs the query.  WeakKeyDictionary keyed by the
# session OBJECT, same aliasing rationale as the pins registry
# (pins.py module doc).  Pinned in tests/test_streaming_multimodal.py.
# Generalized as _rotate_pin — curation_line_planted uses it too (its
# materialize="disk" pin makes the composed line+doc chain evaluate the
# line stage once instead of once per plan branch).
_LAST_PINNED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _rotate_pin(spark, tag: str, out=None):
    """Release the pinned frame a previous invocation of the ``tag``-ged
    registry query left on this session, then (if ``out`` is given)
    remember ``out`` as the new one.  Bounds pinning registry queries at
    one outstanding pin per (session, query) however many times a
    harness evaluates them."""
    from cl_readability_spark.functions.pins import release_pinned

    per_session = _LAST_PINNED.setdefault(spark, {})
    prev = per_session.pop(tag, None)
    if prev is not None:
        release_pinned(prev)
    if out is not None:
        per_session[tag] = out
    return out


def q_media_planted(spark, sf_dir):
    from cl_readability_spark.pipeline.multimodal import media_feature_near_dups

    _rotate_pin(spark, "media_planted")
    group = F.floor(F.col("vec_id") / 3).cast("long")
    media = _embs(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.lit("image").alias("kind"),
        F.encode(F.concat(F.lit("media:"), group.cast("string")), "UTF-8").alias(
            "payload"
        ),
    )
    out = media_feature_near_dups(media, threshold=0.995, plant_copies_every=0)
    return _rotate_pin(spark, "media_planted", out)


SQL_MEDIA_PLANTED = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(10000 AS BIGINT) AS cosine_sim_x10k
FROM embeddings a JOIN embeddings b
  ON a.vec_id // 3 = b.vec_id // 3 AND a.vec_id < b.vec_id
"""


# --- 19d. semdedup_planted — the FULL SemDeDup chain (Arrow cell/centroid-
#     sim stage → within-cell banded LSH → Hamming prefilter → exact-cosine
#     verify → connected components → keep-one-per-group) made
#     hash-verifiable by the identical-group construction: vectors are a
#     pure function of group = vec_id DIV 10, so group members share their
#     cell and centroid-sim EXACTLY — guaranteed same-cell candidacy in
#     every band, cosine exactly 1 (→ pairs = the group all-pairs),
#     components = the groups, and the paper's low-centroid-sim keep rule
#     provably degrades to its min-id tiebreak (sims equal within a
#     group).  Expected output is closed-form: dup_group = the group's min
#     vec_id, kept = (vec_id == that min).  Cross-group chance collisions
#     are killed by the cell key in the bucket (group_col), the Hamming
#     prefilter, and the 0.99 threshold, in that order.  sem_cell /
#     centroid_sim_x10k depend on the hash centroids (not SQL-computable)
#     and are projected away.  A broken cell assignment that SPLITS a
#     group is caught (identical vectors land together or the construction
#     is violated); a broken keep rule, pair producer, or component
#     labeling each flip the hash. ---
def q_semdedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.similarity import semantic_dedup

    _rotate_pin(spark, "semdedup_planted")
    group = F.floor(F.col("vec_id") / 10).cast("long")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.pmod(F.xxhash64(F.concat_ws(":", group, i, F.lit("sd"))), F.lit(2001))
            - 1000
        ).cast("double")
        / 100.0,
    )
    corpus = _embs(spark, sf_dir).select("vec_id", vec.alias("embedding"))
    out = semantic_dedup(corpus, threshold=0.99, dim=64)
    out = _rotate_pin(spark, "semdedup_planted", out)
    return out.select(
        "vec_id",
        F.col("dup_group").cast("long").alias("dup_group"),
        F.col("kept").cast("int").alias("kept"),
    )


SQL_SEMDEDUP_PLANTED = """
SELECT vec_id,
       MIN(vec_id) OVER (PARTITION BY vec_id // 10) AS dup_group,
       CAST(vec_id = MIN(vec_id) OVER (PARTITION BY vec_id // 10)
            AS INTEGER) AS kept
FROM embeddings
"""


# --- 20. ann_lsh_planted — hyperplane-LSH ANN made hash-verifiable by the
#     same scaled-copy construction as ann_ivf_planted: sign(c·q · plane)
#     = sign(q · plane) for c > 0, so every planted copy shares the
#     query's signature EXACTLY and lives in the probe's primary bucket
#     (multiprobe never needed).  True top-10 = the planted copies
#     (cosine 10000); oracle = brute force over the same union. ---
def q_ann_lsh_planted(spark, sf_dir):
    from cl_readability_spark.functions.similarity import lsh_bucketed_topk

    embs = _embs(spark, sf_dir)
    query_vec = [float(x) for x in
                 embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    planted = (
        embs.filter(F.col("vec_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"), "embedding"
        )
        .select(
            (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double")
                * (F.lit(1.0) + F.col("i").cast("double") / 100.0),
            ).alias("embedding"),
        )
    )
    corpus = embs.filter(F.col("vec_id") != 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    topk = lsh_bucketed_topk(corpus, query_vec, k=10, n_planes=6,
                             multiprobe_bits=2)
    return topk.select(
        "vec_id",
        F.round(F.col("cosine_sim") * 10000, 0).cast("long").alias(
            "cosine_sim_x10k"
        ),
    )


SQL_ANN_LSH_PLANTED = SQL_ANN_IVF_PLANTED  # identical union + brute force


# --- TPC-H-style relational twins over the driver tables: the classic scan
#     → broadcast-join → partial-agg shapes the metrics/lineage rollups use
#     at scale.  Money math is integerized (×100, bigint) so cross-engine
#     sums are order-independent and hash-equal. ---

def _tbl(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (map-side partial agg → final agg)."""
    li = _tbl(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_disc_cents,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """orders ⋈ broadcast(customer) → top-10 by revenue (TakeOrdered)."""
    orders = _tbl(spark, sf_dir, "orders")
    customer = _tbl(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 10
"""


def q_regional_customers(spark, sf_dir):
    """customer ⋈ broadcast(nation) ⋈ broadcast(region) rollup — the
    dim-chain broadcast shape."""
    customer = _tbl(spark, sf_dir, "customer")
    nation = _tbl(spark, sf_dir, "nation")
    region = _tbl(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias("acctbal_cents"),
        )
        .orderBy("r_name")
    )


SQL_REGIONAL_CUSTOMERS = """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_user_event_seq(spark, sf_dir):
    """Ordered per-key sequence aggregation (collect_list + array_sort vs
    DuckDB's ordered string_agg) over the events table."""
    ev = _tbl(spark, sf_dir, "events")
    seq = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
    )
    return (
        ev.groupBy("user_id")
        .agg(seq.alias("event_seq"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


SQL_USER_EVENT_SEQ = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY event_id) AS event_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- 14. langid (marker-stopword n-gram heuristic; deterministic CASE
#     tie-break so Spark and DuckDB agree exactly) ---
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "los", "las", "que", "y", "una"],
    "fr": ["le", "les", "et", "est", "une", "dans"],
}


def q_langid(spark, sf_dir):
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    def _marker_counter(markers):
        return lambda x: x.isin(markers)  # unary on purpose (see dedup.py note)

    scores = {
        lang: F.size(F.filter(words, _marker_counter(m))).cast("long")
        for lang, m in LANG_MARKERS.items()
    }
    s = {k: F.col(f"s_{k}") for k in LANG_MARKERS}
    pred = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en"
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", *[scores[k].alias(f"s_{k}") for k in LANG_MARKERS])
        .withColumn("langid_pred", pred)
    )


def _lang_score_sql(markers: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in markers) + "]"
    return (
        "CAST(length(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"x -> list_contains({lst}, x))) AS BIGINT)"
    )


SQL_LANGID = f"""
SELECT doc_id, s_en, s_de, s_es, s_fr,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS langid_pred
FROM (
  SELECT doc_id,
         {_lang_score_sql(LANG_MARKERS['en'])} AS s_en,
         {_lang_score_sql(LANG_MARKERS['de'])} AS s_de,
         {_lang_score_sql(LANG_MARKERS['es'])} AS s_es,
         {_lang_score_sql(LANG_MARKERS['fr'])} AS s_fr
  FROM documents
)
"""


# --- 18c. curation_planted — the COMPOSED curate() chain (quality gate →
#     exact-dedup window → minhash near-dups → dup_clusters keep-one →
#     hierarchical flags) hash-checked end to end on a planted corpus
#     with closed-form expected flags.  Per 10-doc group (role = doc_id
#     mod 10), all texts built from a 10-word cycle containing 3 English
#     stopwords + 7 group-specific words:
#     - roles 0,1,2: ROTATIONS of the cycle (×3 repeats).  A rotation has
#       a different character sequence (distinct exact-dedup fingerprint)
#       but the IDENTICAL word-5-gram set (every window of a repeated
#       cycle is a cyclic window), so minhash signatures are equal —
#       candidacy in every LSH band is guaranteed, verification Jaccard
#       is exactly 1, and the three docs form a near-dup clique whose
#       cluster representative is the minimum key (role 0).
#     - role 3: EXACT copy of role 0 → dropped by the exact-dedup window
#       (same fingerprint, higher key), never reaches the near-dup stage
#       (hierarchical attribution).
#     - role 4: "tiny" → fails the length gate.
#     - roles 5-9: unique-vocabulary fillers → kept untouched.
#     Any regression in gating, fingerprinting, windowing, hashing,
#     banding, verification, label propagation, or the keep-one policy
#     flips the hash. ---
def _curation_planted_corpus(spark, sf_dir):
    """The 18c planted corpus (doc_id, text) with closed-form per-role
    outcomes — shared by curation_planted, curation_report_planted, and
    curation_url_planted (which adds a planted url column on top)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    role = F.pmod(F.col("doc_id"), F.lit(10))
    cycle = [F.lit("the"), F.lit("and"), F.lit("is")] + [
        F.concat(F.lit("w"), g, F.lit(f"x{j}")) for j in range(7)
    ]

    def rot(s: int):
        words = (cycle[s:] + cycle[:s]) * 3
        return F.concat_ws(" ", *words)

    filler = F.concat_ws(
        " ",
        F.lit("the"),
        F.lit("and"),
        F.lit("is"),
        *[
            F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"x{j}"))
            for j in range(27)
        ],
    )
    text = (
        F.when(role == 4, F.lit("tiny"))
        .when(role == 1, rot(1))
        .when(role == 2, rot(2))
        .when(role >= 5, filler)
        .otherwise(rot(0))
    )
    return docs.select("doc_id", text.alias("text"))


def _curation_planted_curated(spark, sf_dir):
    """The shared planted-corpus curate() run behind curation_planted
    (per-row flags) and curation_report_planted (the one-row report over
    the SAME run) — one construction, two verification surfaces."""
    from cl_readability_spark.functions.curation import curate

    corpus = _curation_planted_corpus(spark, sf_dir)
    # materialize="none": this corpus is pure JVM expressions over the
    # documents scan (no Arrow extraction upstream), so the branch
    # re-evaluation the pin exists to prevent costs two cheap window
    # passes — while the default DISK_ONLY pin would leak executor
    # storage per bench/oracle invocation (nobody releases the handle
    # in those harnesses).  minhash_carry="arrays" for the same reason:
    # auto would run a count action at build time and the rehash plan
    # pins candidate frames the harnesses never release; the corpus is
    # 5k toy docs, squarely on the arrays side of the crossover.
    # materialize="local_checkpoint" (r9): truncates the flagged frame's
    # lineage before the near-dup branches WITHOUT the DISK_ONLY pin the
    # old "none" mode avoided (localCheckpoint storage is reclaimed by
    # the ContextCleaner — nothing for the harnesses to release), and
    # cuts the double re-evaluation "none" paid per branch.
    return curate(
        corpus, text_col="text", key_cols=("doc_id",), policy="clusters",
        materialize="local_checkpoint", minhash_carry="arrays",
    )


def q_curation_planted(spark, sf_dir):
    curated = _curation_planted_curated(spark, sf_dir)
    return curated.select(
        "doc_id",
        F.col("quality_ok").cast("int").alias("quality_ok"),
        F.col("exact_keep").cast("int").alias("exact_keep"),
        F.col("near_dup_drop").cast("int").alias("near_dup_drop"),
        F.col("kept").cast("int").alias("kept"),
    )


SQL_CURATION_PLANTED = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(doc_id % 10 != 4 AS INTEGER)                 AS quality_ok,
       CAST(doc_id % 10 NOT IN (3, 4) AS INTEGER)        AS exact_keep,
       CAST(doc_id % 10 IN (1, 2) AS INTEGER)            AS near_dup_drop,
       CAST(doc_id % 10 IN (0, 5, 6, 7, 8, 9) AS INTEGER) AS kept
FROM documents
"""


# --- 18c1. curation_report_planted — curation_report's one-row audit
#     (rows_in, hierarchical per-gate drops, rows_kept) over the SAME
#     planted curate() run as curation_planted: every per-role outcome is
#     closed-form (the 18c construction), so the report's aggregates are
#     too.  This hash-checks the report EXPRESSIONS — in particular the
#     hierarchical-attribution partition invariant rows_in ==
#     dropped_quality + dropped_contaminated + dropped_exact_dup +
#     dropped_near_dup + rows_kept (the oracle's five sums add to its
#     COUNT(*) by construction, so a double- or un-counted row on the
#     Spark side flips the hash).  No benchmark set is passed, pinning
#     dropped_contaminated = 0 rather than leaving the column untested.
#     Replaces the rows-only real-corpus curation_report registry entry
#     (the real extract→curate composition stays benched as bench.py
#     curation_pipeline and pytest-covered in tests/test_curation.py). ---
def q_curation_report_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import curation_report

    return curation_report(_curation_planted_curated(spark, sf_dir))


SQL_CURATION_REPORT_PLANTED = """
SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
       CAST(SUM(CASE WHEN doc_id % 10 = 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS dropped_quality,
       CAST(0 AS BIGINT) AS dropped_contaminated,
       CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS dropped_exact_dup,
       CAST(SUM(CASE WHEN doc_id % 10 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
           AS dropped_near_dup,
       CAST(SUM(CASE WHEN doc_id % 10 IN (0, 5, 6, 7, 8, 9) THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_kept
FROM documents
"""


# --- 18c2. curation_line_planted — the COMPOSED curate(line_dedup=True)
#     chain (C4 line dedup → quality gate → exact-dedup window → minhash
#     near-dups → keep-one) hash-checked end to end on a corpus planting
#     BOTH line-level and doc-level duplicates.  Per 10-doc group
#     (role = doc_id mod 10), reusing the curation_planted cycle
#     construction:
#     - roles 0,1,2: single-line rotation clique (J=1 after dedup, since
#       each rotation line is corpus-unique and survives) → near-dup
#       drop for 1,2; rep = role 0 (min lexicographic key).
#     - role 3: EXACT copy of role 0's single line.  Under the C4
#       ordering the LINE stage subsumes exact doc-dedup: role 3's only
#       line duplicates role 0's (winner "10g" < "10g3" lexicographically
#       at every digit count), the doc dedups to an empty husk, and the
#       QUALITY gate absorbs the drop (dropped_quality, not
#       dropped_exact_dup — the division of labor the corpus_pipeline
#       docstring documents).
#     - role 4: the line "tiny" in EVERY group — kept only in the
#       lexicographically-first role-4 doc, emptied elsewhere; too short
#       either way → quality drop.
#     - roles 5-9: unique-vocab filler line + ONE shared boilerplate
#       footer line planted corpus-wide — the footer survives only in
#       the lexicographically-first role-5-9 doc (n_kept_lines 2 there,
#       1 everywhere else); all stay kept.
#     The twin recomputes the line winners with DuckDB min(VARCHAR)
#     subqueries (the engine-parity trick: _row_key ordering is
#     LEXICOGRAPHIC, so the oracle orders by CAST(doc_id AS VARCHAR)).
#     Any regression in the line stage, its composition order, the
#     rewritten-text plumbing, or any doc-level gate flips the hash. ---
def q_curation_line_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import curate

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    role = F.pmod(F.col("doc_id"), F.lit(10))
    cycle = [F.lit("the"), F.lit("and"), F.lit("is")] + [
        F.concat(F.lit("w"), g, F.lit(f"x{j}")) for j in range(7)
    ]

    def rot(s: int):
        words = (cycle[s:] + cycle[:s]) * 3
        return F.concat_ws(" ", *words)

    filler = F.concat_ws(
        " ",
        F.lit("the"),
        F.lit("and"),
        F.lit("is"),
        *[
            F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"x{j}"))
            for j in range(27)
        ],
    )
    footer = "shared boilerplate footer line planted in every filler doc"
    text = (
        F.when(role == 4, F.lit("tiny"))
        .when(role == 1, rot(1))
        .when(role == 2, rot(2))
        .when(role >= 5, F.concat_ws("\n", filler, F.lit(footer)))
        .otherwise(rot(0))
    )
    corpus = docs.select("doc_id", text.alias("text"))
    # materialize="disk" so the composed line+doc chain evaluates the
    # line stage ONCE (with "none" every near-dup branch recomputes the
    # line_dedup join chain: measured 10.1 s vs ~4 s at sf0.01); the
    # harness-lifecycle pin is bounded by the _rotate_pin rotation.
    # carry="arrays" as in curation_planted (toy corpus, no build action)
    _rotate_pin(spark, "curation_line_planted")
    # pin_stages=True + local_checkpoint mode (r9): every branching
    # stage's input materializes WITH lineage truncation, bounding the
    # composed chain's plan size (see curation._stage_pin) — the twin
    # corpus is an expression tree that would otherwise replicate into
    # every downstream branch's analysis.
    curated = curate(
        corpus, text_col="text", key_cols=("doc_id",), policy="clusters",
        materialize="local_checkpoint", minhash_carry="arrays",
        line_dedup=True, pin_stages=True,
        stage_pin_mode="local_checkpoint",
    )
    _rotate_pin(spark, "curation_line_planted", curated)
    return curated.select(
        "doc_id",
        F.col("quality_ok").cast("int").alias("quality_ok"),
        F.col("exact_keep").cast("int").alias("exact_keep"),
        F.col("near_dup_drop").cast("int").alias("near_dup_drop"),
        F.col("kept").cast("int").alias("kept"),
        F.col("line_dedup_n_lines").alias("n_lines"),
        F.col("line_dedup_n_kept").alias("n_kept_lines"),
    )


SQL_CURATION_LINE_PLANTED = """
WITH w AS (
  SELECT min(CAST(doc_id AS VARCHAR)) FILTER (WHERE doc_id % 10 = 4)
           AS tiny_w,
         min(CAST(doc_id AS VARCHAR)) FILTER (WHERE doc_id % 10 >= 5)
           AS shared_w
  FROM documents
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(d.doc_id % 10 NOT IN (3, 4) AS INTEGER) AS quality_ok,
       CAST(d.doc_id % 10 NOT IN (3, 4) AS INTEGER) AS exact_keep,
       CAST(d.doc_id % 10 IN (1, 2) AS INTEGER) AS near_dup_drop,
       CAST(d.doc_id % 10 IN (0, 5, 6, 7, 8, 9) AS INTEGER) AS kept,
       CAST(CASE WHEN d.doc_id % 10 >= 5 THEN 2 ELSE 1 END AS BIGINT)
         AS n_lines,
       CAST(CASE
              WHEN d.doc_id % 10 IN (0, 1, 2) THEN 1
              WHEN d.doc_id % 10 = 3 THEN 0
              WHEN d.doc_id % 10 = 4 THEN
                CASE WHEN CAST(d.doc_id AS VARCHAR) = w.tiny_w
                     THEN 1 ELSE 0 END
              ELSE
                CASE WHEN CAST(d.doc_id AS VARCHAR) = w.shared_w
                     THEN 2 ELSE 1 END
            END AS BIGINT) AS n_kept_lines
FROM documents d, w
"""


# --- 18c3. curation_full_planted — the FULL deployment config in ONE
#     curate() call: line_dedup → c4 filters → substring_dedup(k=8,
#     keep="none") → gopher_repetition → quality/exact flags → minhash
#     near-dups (word-set Jaccard, minhash_k=1), hash-checked end to end
#     on a corpus where EVERY stage fires with closed-form attribution.
#     Per 10-doc group (role = doc_id mod 10; group words a{g}x0..11,
#     doc words b/c/e/f/u{d}x*, pair words p{g}h0..4; every planted line
#     has >= 3 words and ends with the literal token "stop." so the C4
#     line filters are identity except where a role targets them):
#     - roles 0,1,2 — near-dup clique: two lines built from the SAME
#       16-token vocabulary ({the,and,of,stop.} + a{g}x0..11) in
#       rotated orders; longest shared token run between any two is 5
#       (< k=8, substring stage can't touch them) while the word SETS
#       are equal → J=1 under minhash_k=1, a certainty pair regardless
#       of banding.  Cluster rep = min VARCHAR key = role 0; 1,2 drop.
#     - role 3 — line stage fires: the doc IS role 0's first line, so
#       line dedup empties it (winner 10g < 10g+3 at every digit count)
#       BEFORE the substring stage could see that 8-token gram twice —
#       the husk then fails c4 (0 sentences) and quality (composition
#       ORDER is what this role pins: under substring-first both copies
#       of the 8-gram would have been cut, gutting role 0 too).
#     - role 4 — substring stage fires and the doc SURVIVES: an 8-token
#       run (srun0t..srun7t) planted in every role-4 doc flanked by
#       doc-unique b{d} tokens (shared run = exactly 8) is removed
#       everywhere (keep="none"), audit 20 tokens -> 12 kept; the
#       remaining text still clears every gate → kept=1.
#     - role 5 — c4 fires on all three line reasons it can here plus a
#       page gate: 1 good line + 1 two-word line (short) + 1 line with
#       no terminal punctuation; the good line carries "badwordx" →
#       has_badword → c4_keep=0 → quality drop (hierarchical).
#     - role 6 — gopher repetition fires: the 2-gram (q{d}a,q{d}b)
#       repeated 6 times separated by unique e{d}x* tokens — top-2-gram
#       char fraction > 20% for every doc_id digit count (closed form:
#       5(12D+24) > 22D+72 for all D >= 1), while every 8-token window
#       spans >= 2 distinct e-tokens so the substring stage is identity.
#     - roles 7,8 — exact dedup fires THROUGH the line stage: same
#       letters-and-digits stream, but role 8 carries commas INSIDE
#       both lines, so the normalized LINES differ (line dedup keeps
#       both) while the alnum fingerprint matches → role 7 (min key)
#       keeps, role 8 drops as exact dup.
#     - role 9 — clean survivor: every stage identity, kept=1.
#     Any drift in a stage's semantics, the composition order, a rewrite
#     plumbing bug, or gate attribution flips the hash. ---
def q_curation_full_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import curate

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    d = F.col("doc_id").cast("string")
    role = F.pmod(F.col("doc_id"), F.lit(10))

    def tok(prefix, ident, j):
        return F.concat(F.lit(prefix), ident, F.lit(f"x{j}"))

    def line(*cols):
        return F.concat_ws(" ", *cols)

    the, and_, of, stop = (
        F.lit("the"), F.lit("and"), F.lit("of"), F.lit("stop.")
    )
    A = [tok("a", g, j) for j in range(12)]

    def rot(lst, s):
        return lst[s:] + lst[:s]

    def clique(s):
        return F.concat_ws(
            "\n",
            line(the, *rot(A[:6], s), stop),
            line(and_, *rot(A[6:], s), of, stop),
        )

    b = [tok("b", d, j) for j in range(7)]
    sruns = [F.lit(f"srun{j}t") for j in range(8)]
    r4 = F.concat_ws(
        "\n",
        line(the, b[0], b[1], *sruns, b[2], stop),
        line(and_, b[3], b[4], b[5], b[6], of, stop),
    )
    c = [tok("c", d, j) for j in range(6)]
    r5 = F.concat_ws(
        "\n",
        line(the, c[0], c[1], F.lit("badwordx"), stop),
        line(F.lit("tiny"), F.concat(c[2], F.lit("."))),
        line(and_, c[3], c[4], F.lit("plainword"), c[5]),
    )
    e = [tok("e", d, j) for j in range(7)]
    qa = F.concat(F.lit("q"), d, F.lit("a"))
    qb = F.concat(F.lit("q"), d, F.lit("b"))
    fs = [tok("f", d, j) for j in range(3)]
    rep_parts = [e[0]]
    for i in range(1, 7):
        rep_parts += [qa, qb, e[i]]
    r6 = F.concat_ws(
        "\n",
        line(the, *rep_parts, stop),
        line(and_, *fs, of, stop),
    )
    p = [F.concat(F.lit("p"), g, F.lit(f"h{j}")) for j in range(5)]
    r7 = F.concat_ws(
        "\n",
        line(the, p[0], p[1], p[2], stop),
        line(and_, p[3], p[4], of, stop),
    )
    r8 = F.concat_ws(
        "\n",
        line(the, p[0], F.concat(p[1], F.lit(",")), p[2], stop),
        line(and_, F.concat(p[3], F.lit(",")), p[4], of, stop),
    )
    u = [tok("u", d, j) for j in range(7)]
    r9 = F.concat_ws(
        "\n",
        line(the, u[0], u[1], u[2], u[3], stop),
        line(and_, u[4], u[5], u[6], of, stop),
    )
    text = (
        F.when(role == 0, clique(0))
        .when(role == 1, clique(1))
        .when(role == 2, clique(2))
        .when(role == 3, line(the, *A[:6], stop))
        .when(role == 4, r4)
        .when(role == 5, r5)
        .when(role == 6, r6)
        .when(role == 7, r7)
        .when(role == 8, r8)
        .otherwise(r9)
    )
    corpus = docs.select("doc_id", text.alias("text"))
    # materialize="disk"/pin rotation + carry="arrays" as the other
    # curation twins (toy corpus, no build action)
    _rotate_pin(spark, "curation_full_planted")
    # pin_stages=True + local_checkpoint mode (r9): plan-size bound for
    # the 5-stage composition — see the curation_line twin note.
    curated = curate(
        corpus, text_col="text", key_cols=("doc_id",), policy="clusters",
        materialize="local_checkpoint", minhash_carry="arrays",
        jaccard_threshold=0.7, min_chars=30,
        line_dedup=True,
        c4=True, c4_opts={"min_sentences": 2, "badwords": ("badwordx",)},
        substring_dedup_k=8, substring_dedup_keep="none",
        gopher_repetition=True, minhash_k=1, pin_stages=True,
        stage_pin_mode="local_checkpoint",
    )
    _rotate_pin(spark, "curation_full_planted", curated)
    return curated.select(
        "doc_id",
        F.col("quality_ok").cast("int").alias("quality_ok"),
        F.col("c4_keep").cast("int").alias("c4_keep"),
        F.col("repetition_ok").cast("int").alias("repetition_ok"),
        F.col("exact_keep").cast("int").alias("exact_keep"),
        F.col("near_dup_drop").cast("int").alias("near_dup_drop"),
        F.col("kept").cast("int").alias("kept"),
        F.col("line_dedup_n_lines").cast("long").alias("ld_n_lines"),
        F.col("line_dedup_n_kept").cast("long").alias("ld_n_kept"),
        F.col("c4_n_lines").cast("long").alias("c4_n_lines"),
        F.col("c4_n_kept_lines").cast("long").alias("c4_n_kept"),
        F.col("substr_dedup_n_tokens").cast("long").alias("sd_n_tokens"),
        F.col("substr_dedup_n_kept").cast("long").alias("sd_n_kept"),
    )


SQL_CURATION_FULL_PLANTED = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(doc_id % 10 IN (0, 1, 2, 4, 7, 8, 9) AS INTEGER) AS quality_ok,
       CAST(doc_id % 10 NOT IN (3, 5) AS INTEGER) AS c4_keep,
       CAST(doc_id % 10 <> 6 AS INTEGER) AS repetition_ok,
       CAST(doc_id % 10 IN (0, 1, 2, 4, 7, 9) AS INTEGER) AS exact_keep,
       CAST(doc_id % 10 IN (1, 2) AS INTEGER) AS near_dup_drop,
       CAST(doc_id % 10 IN (0, 4, 7, 9) AS INTEGER) AS kept,
       CAST(CASE doc_id % 10 WHEN 3 THEN 1 WHEN 5 THEN 3 ELSE 2 END
            AS BIGINT) AS ld_n_lines,
       CAST(CASE doc_id % 10 WHEN 3 THEN 0 WHEN 5 THEN 3 ELSE 2 END
            AS BIGINT) AS ld_n_kept,
       CAST(CASE doc_id % 10 WHEN 3 THEN 1 WHEN 5 THEN 3 ELSE 2 END
            AS BIGINT) AS c4_n_lines,
       CAST(CASE doc_id % 10 WHEN 3 THEN 0 WHEN 5 THEN 1 ELSE 2 END
            AS BIGINT) AS c4_n_kept,
       CAST(CASE WHEN doc_id % 10 IN (0, 1, 2) THEN 17
                 WHEN doc_id % 10 = 3 THEN 0
                 WHEN doc_id % 10 = 4 THEN 20
                 WHEN doc_id % 10 = 5 THEN 5
                 WHEN doc_id % 10 = 6 THEN 27
                 WHEN doc_id % 10 IN (7, 8) THEN 10
                 ELSE 12 END AS BIGINT) AS sd_n_tokens,
       CAST(CASE WHEN doc_id % 10 IN (0, 1, 2) THEN 17
                 WHEN doc_id % 10 = 3 THEN 0
                 WHEN doc_id % 10 = 4 THEN 12
                 WHEN doc_id % 10 = 5 THEN 5
                 WHEN doc_id % 10 = 6 THEN 27
                 WHEN doc_id % 10 IN (7, 8) THEN 10
                 ELSE 12 END AS BIGINT) AS sd_n_kept
FROM documents
"""


# --- 18d. decontam_planted — benchmark decontamination hash-checked with
#     closed-form expectations.  Corpus: 20 unique words per doc (vocab
#     disjoint across docs → zero cross-doc 13-grams).  Benchmark: every
#     role-7 doc's text plus one tail word — its first 8 13-gram windows
#     are exactly the corpus doc's full gram set, the 9th (containing the
#     tail) matches nothing.  So contaminated = (doc_id mod 10 == 7) with
#     exactly 8 hits, everything else 0 — any drift in tokenization,
#     gram hashing, the broadcast set, or the flag stage flips the hash. ---
def q_decontam_planted(spark, sf_dir):
    from cl_readability_spark.functions.decontam import decontaminate

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    words = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("d"), F.col("doc_id").cast("string"), F.lit(f"x{j}"))
            for j in range(20)
        ],
    )
    corpus = docs.select("doc_id", words.alias("text"))
    benchmark = corpus.filter(F.pmod("doc_id", F.lit(10)) == 7).select(
        F.concat(F.col("text"), F.lit(" benchtailword")).alias("text")
    )
    flagged = decontaminate(corpus, benchmark)
    return flagged.select(
        "doc_id",
        F.col("contaminated").cast("int").alias("contaminated"),
        "n_contaminated_grams",
    )


SQL_DECONTAM_PLANTED = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(doc_id % 10 = 7 AS INTEGER) AS contaminated,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 8 ELSE 0 END AS INTEGER)
         AS n_contaminated_grams
FROM documents
"""


# --- 18e. source_cap — per-source frequency cap (keep at most N docs per
#     source/domain, the standard anti-boilerplate-site gate): one window
#     over source ordered by doc_id.  kept is deterministic (doc_id is a
#     total order within each source). ---
def q_source_cap(spark, sf_dir):
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", F.row_number().over(w).alias("rank_in_source"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            (F.col("rank_in_source") <= 3).cast("int").alias("kept"),
        )
    )


SQL_SOURCE_CAP = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 3
            AS INTEGER) AS kept
FROM documents
"""


# --- 18g. split_assign — deterministic train/val/test assignment (the
#     standard reproducible-split stage): bucket = first hex char of
#     md5(key) — stable across engines, runs, and cluster sizes; 12/2/2
#     sixteenths.  Hex-char bucketing (not int conversion) because Spark
#     and DuckDB agree exactly on md5 hex strings while sharing no
#     integer hash function. ---
def q_split_assign(spark, sf_dir):
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(bucket.isin("c", "d"), "val")
        .when(bucket.isin("e", "f"), "test")
        .otherwise("train")
    )
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), split.alias("split")
    )


SQL_SPLIT_ASSIGN = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
         ELSE 'train'
       END AS split
FROM documents
"""


# --- 18e2. mix_sample — deterministic per-source mixture sampling
#     (functions/curation.py:source_mix_sample).  The oracle recomputes
#     the md5-hash uniform, the weight resolution (explicit weights +
#     default), the floor(w)+Bernoulli(frac) epoch count, and the
#     epoch-row replication from scratch in DuckDB.  Weights cover every
#     semantic class: a dropped source (0.0), a fractional downsample
#     (0.4), a fractional upsample (2.5 -> 2-3 copies), an exact
#     replicator (2.0), and the 0.75 default for the other 16 sources.
#     u = int(md5(seed\x1fkey)[:8])/2^32 is EXACT in double (32-bit int
#     over 2^32), so the u < frac comparison is bit-identical on both
#     engines. ---
MIX_WEIGHTS = {"src0": 0.0, "src1": 0.4, "src2": 2.5, "src3": 2.0}
MIX_DEFAULT_W = 0.75


def q_mix_sample(spark, sf_dir):
    from cl_readability_spark.functions.curation import source_mix_sample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    return source_mix_sample(
        docs, MIX_WEIGHTS, seed=42, default_weight=MIX_DEFAULT_W
    ).select("doc_id", "source", "mix_weight", "epoch")


SQL_MIX_SAMPLE = """
WITH w AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('42' || chr(31) || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS UBIGINT) / 4294967296.0 AS u,
         CASE source WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.4
                     WHEN 'src2' THEN 2.5 WHEN 'src3' THEN 2.0
                     ELSE 0.75 END AS mw
  FROM documents
),
e AS (
  SELECT doc_id, source, mw,
         CAST(floor(mw) AS INTEGER)
           + CASE WHEN u < mw - floor(mw) THEN 1 ELSE 0 END AS epochs
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(mw AS DOUBLE) AS mix_weight,
       CAST(unnest(range(epochs)) AS INTEGER) AS epoch
FROM e
"""


# --- 18f. pii_redact — the PII scrub twin, planted so every pattern
#     class is non-vacuous: each doc gets a synthetic email, SSN, phone
#     (doc_id-varied grouping), card and IPv4 appended, then redacted.
#     The oracle chain is GENERATED from the same PII_PATTERNS literals
#     (no drift possible; DuckDB needs the 'g' flag for global
#     replacement, Spark's regexp_replace is global by default). ---
def _pii_plant_spark():
    # built lazily — Column construction needs a live SparkContext
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 call (555) 123-4"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
        F.lit(" card 4111-1111-1111-1111 ip 10.0.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(" end"),
    )
_PII_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com ssn 123-45-6789 call (555) 123-4' "
    "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') "
    "|| ' card 4111-1111-1111-1111 ip 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || ' end'"
)


def _sql_pii_chain(expr: str) -> str:
    for pattern, token in PII_PATTERNS:
        expr = (
            f"regexp_replace({expr},\n  '{pattern.replace(chr(39), chr(39) * 2)}',"
            f" '{token}', 'g')"
        )
    return expr


def q_pii_redact(spark, sf_dir):
    from cl_readability_spark.functions.curation import redact_pii

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        redact_pii(_pii_plant_spark()).alias("redacted"),
    )


SQL_PII_REDACT = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_sql_pii_chain(f"({_PII_PLANT_SQL})")} AS redacted
FROM documents
"""


# --- 18g1b. gopher_repetition — the FULL Gopher Table-A1 repetition
#     battery (curation.gopher_repetition_flags) hash-checked on a
#     planted corpus whose metrics are pure functions of the role
#     (doc_id mod 5): every token is exactly 3 characters, so char sums
#     are role constants independent of doc_id.  Expected values were
#     derived BY HAND from the documented formulas:
#     - role 0 "clean": 2 lines / 2 paragraphs, 9 distinct words — every
#       repetition metric 0, ok.
#     - role 1 "dup lines": the line "aa1 bb2 cc3" x3 + one other line.
#       Word stream = [aa1 bb2 cc3]x3 ++ [dd4 ee5 ff6]: top-2-gram
#       "aa1 bb2"/"bb2 cc3" count 3 -> 3x6=18; top-3-gram
#       "aa1 bb2 cc3" count 3 -> 3x9=27; duplicated 5-grams {start 0 ==
#       start 3} and {1 == 4} cover word positions 0..8 -> 27 chars; no
#       duplicated 10-gram (3 starts, all suffix-distinct).
#     - role 2 "hot 2-gram": "xx1 yy2 " x10 (one 80-char line incl. the
#       trailing space; words trim to 20).  top2 = 10x6 = 60; top3 =
#       count-9 tie x9 = 81 (top-gram coverage counts occurrences x
#       chars, overlaps included — the paper reserves the union rule
#       for the DUPLICATED-gram metrics); all 5..10-grams duplicated ->
#       union covers all 20 words = 60 chars.
#     - role 3 "dup paragraphs": paragraph "aa1 bb2 cc3" twice + one
#       other; 1/3 paragraphs (and lines) duplicated -> 33bp > 30bp
#       flags; top2 "aa1 bb2" 2x6=12, top3 2x9=18; no duplicated
#       5-gram (9 words, all 5-gram starts distinct).
#     - role 4: empty text — all zeros, ok.
#     The middle n's (4, 6..9) share the single parameterized code path
#     pinned per-n by the python differential oracle
#     (tests/test_curation.py); the twin pins both ends + the flag. ---
def q_gopher_repetition(spark, sf_dir):
    from cl_readability_spark.functions.curation import (
        gopher_repetition_flags,
    )

    role = F.pmod(F.col("doc_id"), F.lit(5))
    text = (
        F.when(role == 0, F.lit("aa1 bb2 cc3 dd4 ee5\n\nff6 gg7 hh8 ii9"))
        .when(
            role == 1,
            F.lit("aa1 bb2 cc3\naa1 bb2 cc3\naa1 bb2 cc3\ndd4 ee5 ff6"),
        )
        .when(role == 2, F.lit("xx1 yy2 " * 10))
        .when(
            role == 3, F.lit("aa1 bb2 cc3\n\naa1 bb2 cc3\n\ndd4 ee5 ff6")
        )
        .otherwise(F.lit(""))
    )
    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), text.alias("text")
    )
    return gopher_repetition_flags(corpus).select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        "lines_chars",
        "dup_lines_chars",
        "n_paras",
        "n_dup_paras",
        "paras_chars",
        "dup_paras_chars",
        "word_chars",
        "top_2gram_chars",
        "top_3gram_chars",
        "dup_5gram_chars",
        "dup_10gram_chars",
        "repetition_ok",
    )


SQL_GOPHER_REPETITION = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 1
                            WHEN 3 THEN 3 ELSE 0 END AS BIGINT) AS n_lines,
       CAST(CASE doc_id % 5 WHEN 1 THEN 2 WHEN 3 THEN 1
                            ELSE 0 END AS BIGINT) AS n_dup_lines,
       CAST(CASE doc_id % 5 WHEN 0 THEN 34 WHEN 1 THEN 44 WHEN 2 THEN 80
                            WHEN 3 THEN 33 ELSE 0 END AS BIGINT)
         AS lines_chars,
       CAST(CASE doc_id % 5 WHEN 1 THEN 22 WHEN 3 THEN 11
                            ELSE 0 END AS BIGINT) AS dup_lines_chars,
       CAST(CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 1
                            WHEN 3 THEN 3 ELSE 0 END AS BIGINT) AS n_paras,
       CAST(CASE doc_id % 5 WHEN 3 THEN 1 ELSE 0 END AS BIGINT)
         AS n_dup_paras,
       CAST(CASE doc_id % 5 WHEN 0 THEN 34 WHEN 1 THEN 47 WHEN 2 THEN 80
                            WHEN 3 THEN 33 ELSE 0 END AS BIGINT)
         AS paras_chars,
       CAST(CASE doc_id % 5 WHEN 3 THEN 11 ELSE 0 END AS BIGINT)
         AS dup_paras_chars,
       CAST(CASE doc_id % 5 WHEN 0 THEN 27 WHEN 1 THEN 36 WHEN 2 THEN 60
                            WHEN 3 THEN 27 ELSE 0 END AS BIGINT)
         AS word_chars,
       CAST(CASE doc_id % 5 WHEN 1 THEN 18 WHEN 2 THEN 60 WHEN 3 THEN 12
                            ELSE 0 END AS BIGINT) AS top_2gram_chars,
       CAST(CASE doc_id % 5 WHEN 1 THEN 27 WHEN 2 THEN 81 WHEN 3 THEN 18
                            ELSE 0 END AS BIGINT) AS top_3gram_chars,
       CAST(CASE doc_id % 5 WHEN 1 THEN 27 WHEN 2 THEN 60
                            ELSE 0 END AS BIGINT) AS dup_5gram_chars,
       CAST(CASE doc_id % 5 WHEN 2 THEN 60 ELSE 0 END AS BIGINT)
         AS dup_10gram_chars,
       doc_id % 5 IN (0, 4) AS repetition_ok
FROM documents
"""


# --- 18g2. repetition_score — intra-document repetition (the
#     Gopher/MassiveText duplicate-n-gram quality rule: heavily
#     self-repeating documents are low-quality training text).  Counts
#     word 3-grams vs DISTINCT word 3-grams; ``repetitive`` flags docs
#     whose duplicate-gram fraction exceeds 20%, via integer
#     cross-multiplication (n_distinct*10 < n_grams*8) so the twin is
#     float-free and hashes identically across engines.  Docs under 3
#     words have zero grams and are never repetitive. ---
def q_repetition_score(spark, sf_dir):
    # plant a repetitive class (every 7th doc gets a 40x-repeated phrase
    # appended) so BOTH flag outcomes exist on the driver corpus — the
    # word-salad docs alone never cross the 20% duplicate-gram flag
    # threshold (verified: 0 of 500 FLAGGED; ~27 do contain at least one
    # duplicate gram), which would make the flag a vacuous check
    planted = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 0,
        F.concat(F.col("text"), F.lit(" "), F.expr("repeat('spam spam wonderful ', 40)")),
    ).otherwise(F.col("text"))
    # coalesce on BOTH sides: Spark's when-guard would score a NULL text
    # as zero grams while DuckDB's list functions propagate NULL — the
    # twin must agree even on corpora with null rows
    words = F.split(F.lower(F.trim(F.coalesce(planted, F.lit("")))), r"\s+")
    n = F.size(words)
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n.cast("long").alias("n_words"),
        n_grams.alias("n_grams3"),
        n_distinct.alias("n_distinct_grams3"),
        ((n_grams > 0) & (n_distinct * 10 < n_grams * 8)).alias("repetitive"),
    )


SQL_REPETITION_SCORE = r"""
WITH g AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(coalesce(
           CASE WHEN doc_id % 7 = 0
                THEN text || ' ' || repeat('spam spam wonderful ', 40)
                ELSE text END, ''))), '\s+') AS w
  FROM documents
),
t AS (
  SELECT doc_id,
         len(w) AS n_words,
         list_transform(range(0, len(w) - 2),
                        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS grams
  FROM g
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(len(grams) AS BIGINT) AS n_grams3,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams3,
       len(grams) > 0 AND len(list_distinct(grams)) * 10 < len(grams) * 8
         AS repetitive
FROM t
"""


# --- 18f2. gopher_quality — the Gopher document-quality rules (Rae et
#     al. 2021 §A1.1, the standard LLM pre-training text filter) as JVM
#     expressions with a DuckDB twin.  Integer-exact throughout (cross-
#     multiplication instead of ratios) so the twin hashes identically:
#     word count in [50, 100k]; mean word length in [3, 10] chars
#     (3·n ≤ chars ≤ 10·n, chars = non-whitespace length); symbol-to-
#     word ratio ≤ 0.1 over '#' and '…'-as-'...' (10·symbols ≤ n);
#     ≥80% of words contain a letter (5·alpha ≥ 4·n); ≥2 distinct
#     stopwords of the Gopher 8.  The driver word-salad corpus has ~no
#     stopwords, so every 6th doc gets a stopword-bearing sentence
#     appended — both flag outcomes exist by construction (pinned below
#     by the planted class itself: planted docs that meet the other
#     rules pass, unplanted docs all fail the stopword rule). ---
def q_gopher_quality(spark, sf_dir):
    # delegates to the REUSABLE operator (curation.gopher_flags) so the
    # driver hash-checks the exact expressions pipelines filter on; the
    # planting here only guarantees both flag outcomes exist
    from cl_readability_spark.functions.curation import gopher_flags

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(6)) == 0,
            F.concat(
                F.col("text"),
                F.lit(" the words and more of that to be clear with everyone"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return gopher_flags(planted).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words",
        "n_chars",
        "n_symbols",
        "n_alpha_words",
        "n_stopwords",
        "gopher_ok",
    )


# --- 18f2b. c4_planted — the C4 cleaning battery (Raffel et al. 2020
#     §2.2, curation.c4_filters) hash-checked end to end.  The planted
#     corpus appends to every doc's word-salad text one line per filter
#     category (a kept sentence, a short line, a javascript line, a
#     no-terminal line) plus modulo-classed page-flag lines (curly brace
#     %5, badword %7, lorem ipsum %3, a 5-sentence booster %2), so every
#     line rule, every drop-attribution bucket, and both page-verdict
#     outcomes exist by construction.  The DuckDB oracle recomputes the
#     WHOLE battery from the SAME shared pattern literals (module top:
#     terminator convention, (?d) only on the Java side) — c4_text is
#     compared byte-for-byte, so line survival, byte preservation, and
#     the count algebra are all inside the hash. ---
def q_c4_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import c4_filters

    docs = _docs(spark, sf_dir)
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("Keep this planted sentence."),
            F.lit("short one"),
            F.lit("JavaScript required to view this page."),
            F.lit("this line has no terminal punctuation"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(2)) == 0,
                F.lit("One. Two! Three? Four. Five."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.lit("Curly brace { page marker."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(7)) == 0,
                F.lit("the naughty word appears here."),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                F.lit("Lorem ipsum dolor sit amet."),
            ),
        ).alias("text"),
    )
    return c4_filters(corpus, badwords=("naughty",)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "c4_text",
        "n_lines",
        "n_kept_lines",
        "n_drop_javascript",
        "n_drop_short_line",
        "n_drop_no_terminal",
        "has_lorem_ipsum",
        "has_curly_brace",
        "has_badword",
        "n_sentences",
        "c4_keep",
    )


def _c4_sql_lit(pattern: str) -> str:
    return "'" + pattern.replace("'", "''") + "'"


_C4_DROP_LIT = _c4_sql_lit("(?m)" + c4_drop_line_re(3))
_C4_JS_LIT = _c4_sql_lit("(?m)^(?:" + C4_JS_LINE_RE + ")\\n")
_C4_JSS_LIT = _c4_sql_lit(
    "(?m)^(?:" + C4_JS_LINE_RE + "|" + c4_short_line_re(3) + ")\\n"
)
_C4_SENT_LIT = _c4_sql_lit(C4_SENTENCE_RE)
_C4_BAD_LIT = _c4_sql_lit(c4_badword_re(("naughty",)))

SQL_C4_PLANTED = f"""
WITH c AS (
  SELECT doc_id, concat_ws(chr(10), text,
    'Keep this planted sentence.',
    'short one',
    'JavaScript required to view this page.',
    'this line has no terminal punctuation',
    CASE WHEN doc_id % 2 = 0 THEN 'One. Two! Three? Four. Five.' END,
    CASE WHEN doc_id % 5 = 0 THEN 'Curly brace {{ page marker.' END,
    CASE WHEN doc_id % 7 = 0 THEN 'the naughty word appears here.' END,
    CASE WHEN doc_id % 3 = 0 THEN 'Lorem ipsum dolor sit amet.' END
  ) AS text FROM documents
), k AS (
  SELECT doc_id, text, text || chr(10) AS t,
         regexp_replace(text || chr(10), {_C4_DROP_LIT}, '', 'g') AS kt
  FROM c
), m AS (
  SELECT doc_id, text,
         CASE WHEN kt = '' THEN ''
              ELSE substr(kt, 1, length(kt) - 1) END AS c4_text,
         CAST(len(regexp_extract_all(t, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(regexp_extract_all(kt, chr(10))) AS BIGINT)
           AS n_kept_lines,
         CAST(len(regexp_extract_all(t, {_C4_JS_LIT})) AS BIGINT) AS n_js,
         CAST(len(regexp_extract_all(t, {_C4_JSS_LIT})) AS BIGINT) AS n_jss
  FROM k
), s AS (
  SELECT doc_id, text, c4_text, n_lines, n_kept_lines, n_js, n_jss,
         CAST(len(regexp_extract_all(c4_text, {_C4_SENT_LIT})) AS BIGINT)
           AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_curly_brace,
         regexp_matches(lower(text), {_C4_BAD_LIT}) AS has_badword
  FROM m
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, c4_text, n_lines, n_kept_lines,
       n_js AS n_drop_javascript,
       n_jss - n_js AS n_drop_short_line,
       n_lines - n_kept_lines - n_jss AS n_drop_no_terminal,
       has_lorem_ipsum, has_curly_brace, has_badword, n_sentences,
       NOT has_lorem_ipsum AND NOT has_curly_brace AND NOT has_badword
         AND n_sentences >= 5 AS c4_keep
FROM s
"""


SQL_GOPHER_QUALITY = r"""
WITH g AS (
  SELECT doc_id,
         lower(trim(coalesce(
           CASE WHEN doc_id % 6 = 0
                THEN text || ' the words and more of that to be clear with everyone'
                ELSE text END, ''))) AS t
  FROM documents
),
s AS (
  -- explicit whitespace class kept in LOCKSTEP with
  -- curation.gopher_flags: java \s and RE2 \s disagree on U+000B
  SELECT doc_id, t,
         regexp_split_to_array(t, '[ \t\n\f\r]+') AS w,
         CAST(length(regexp_replace(t, '[ \t\n\f\r]+', '', 'g')) AS BIGINT)
           AS chars,
         CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
         CAST((length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT)
           AS n_ellipsis
  FROM g
),
c AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         chars,
         n_hash + n_ellipsis AS n_symbols,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
           AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(w),
              ['the','be','to','of','and','that','have','with'])) AS BIGINT)
           AS n_stopwords
  FROM s
)
SELECT doc_id, n_words, n_chars, n_symbols, n_alpha_words, n_stopwords,
       n_words BETWEEN 50 AND 100000
         AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
         AND 10 * n_symbols <= n_words
         AND 5 * n_alpha_words >= 4 * n_words
         AND n_stopwords >= 2 AS gopher_ok
FROM (SELECT doc_id, n_words, chars AS n_chars, n_symbols, n_alpha_words,
             n_stopwords FROM c)
"""


# --- 18f3. line_dedup_planted — C4-style cross-document line dedup
#     (functions/dedup.py:line_dedup) with a full SQL twin: the planted
#     corpus gives every doc 4 lines — its word-salad text, a footer line
#     shared by EVERY doc (kept only at the minimum doc_id), a blank line
#     (always kept — document structure), and a doc-unique trailer.  The
#     oracle recomputes first-occurrence-wins from scratch with a window
#     over the normalized line (the Spark side windows over xxhash64 of
#     the same normalization — equivalent absent a 128-bit collision,
#     which the value-hash would catch).  deduped_text is compared
#     byte-for-byte, so survival AND original-byte preservation AND
#     reassembly order are all inside the hash. ---
def q_line_dedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import line_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("shared boilerplate footer line"),
            F.lit(""),
            F.concat(F.lit("unique trailer "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return line_dedup(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_lines",
        "n_kept_lines",
        "deduped_text",
    )


SQL_LINE_DEDUP_PLANTED = r"""
WITH base AS (
  SELECT doc_id,
         concat_ws(chr(10), text, 'shared boilerplate footer line', '',
                   'unique trailer ' || CAST(doc_id AS VARCHAR)) AS t
  FROM documents
),
l AS (
  SELECT doc_id, u['idx'] AS idx, u['line'] AS line FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(t, chr(10)),
                  (x, i) -> {'idx': i, 'line': x})) AS u
    FROM base
  )
),
ranked AS (
  -- edge-trim with the EXPLICIT dedup.LINE_EDGE_WS class (space/tab/
  -- FF/CR/VT), never \s: RE2 and java regex disagree on vertical tab
  SELECT doc_id, idx, line,
         lower(regexp_replace(line,
               '^[ \t\f\r\x0B]+|[ \t\f\r\x0B]+$', '', 'g')) = ''
           AS is_blank,
         row_number() OVER (
           PARTITION BY lower(regexp_replace(line,
               '^[ \t\f\r\x0B]+|[ \t\f\r\x0B]+$', '', 'g'))
           ORDER BY doc_id, idx) AS rn
  FROM l
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN is_blank OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept_lines,
       string_agg(CASE WHEN is_blank OR rn = 1 THEN line END,
                  chr(10) ORDER BY idx) AS deduped_text
FROM ranked
GROUP BY doc_id
"""


# --- 18f4. substring_dedup_planted — ExactSubstr-style duplicated-
#     substring removal (functions/dedup.py:substring_dedup, Lee et al.
#     2021 §4.1) with a fully GENERIC SQL twin: the oracle re-derives
#     token k-grams, duplicate grams (count >= 2 corpus-wide, counting
#     within-doc multiplicity), covered positions, and the surviving-
#     token rebuild from scratch in DuckDB — string grams vs the Spark
#     side's two xxhash64 gram keys over per-token hashes (equivalent
#     absent a 128-bit-grade collision, which the value hash would
#     catch).  The planted corpus layers three duplication shapes on the
#     real documents text: a 12-token block shared by every doc_id%3==0
#     (cross-document run), a doc-specific 8-token sentence repeated
#     TWICE in doc_id%7==0 docs (within-document multiplicity — both
#     copies must go under keep="none"), and a doc-unique tail token
#     (pins the trailing-gram edge).  Natural k=8 dups in the real text
#     are detected identically by both engines.  dedup_text is compared
#     byte-for-byte, so removal, original-token preservation, and
#     rebuild order are all inside the hash. ---
SUBSTR_SHARED = (
    "the shared boilerplate navigation footer block appears on many "
    "pages verbatim"
)


def q_substring_dedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import substring_dedup

    docs = _docs(spark, sf_dir)
    rep = F.concat(
        F.lit("rw"),
        F.col("doc_id").cast("string"),
        F.lit(" q1 q2 q3 q4 q5 q6 q7"),
    )
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(SUBSTR_SHARED)),
            F.when(F.col("doc_id") % 7 == 0, rep),
            F.when(F.col("doc_id") % 7 == 0, rep),
            F.concat(F.lit("tail"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return substring_dedup(planted, k=8, dup_join_salt=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_kept_tokens",
        "dedup_text",
    )


SQL_SUBSTRING_DEDUP_PLANTED = (
    r"""
WITH base AS (
  SELECT doc_id,
         concat_ws(' ', text,
           CASE WHEN doc_id % 3 = 0 THEN '__SHARED__' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'rw' || CAST(doc_id AS VARCHAR) || ' q1 q2 q3 q4 q5 q6 q7' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'rw' || CAST(doc_id AS VARCHAR) || ' q1 q2 q3 q4 q5 q6 q7' END,
           'tail' || CAST(doc_id AS VARCHAR)) AS t
  FROM documents
),
-- tokenize with the EXPLICIT dedup.TOKEN_SPLIT_RE whitespace class
-- (space/tab/LF/FF/CR — never \s: java and RE2 disagree on VT)
tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(t, '[ \t\n\f\r]+'),
                     x -> x <> '') AS toks
  FROM base
),
gidx AS (
  SELECT doc_id, toks, unnest(range(greatest(len(toks) - 7, 0))) AS pos
  FROM tok
),
g AS (
  -- gram key = the lowercased token run itself (the Spark side keys on
  -- two xxhash64s of the per-token hash run — same equality)
  SELECT doc_id, pos, lower(array_to_string(toks[pos + 1 : pos + 8], ' ')) AS gram
  FROM gidx
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT m.doc_id, m.pos + o.o AS cpos
  FROM (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)) m
  CROSS JOIN (SELECT unnest(range(8)) AS o) o
),
tokrow AS (
  SELECT doc_id, u['i'] - 1 AS pos, u['tok'] AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(toks, (x, i) -> {'i': i, 'tok': x})) AS u
        FROM tok)
),
kept AS (
  SELECT t.doc_id, count(*) AS nk, string_agg(t.tok, ' ' ORDER BY t.pos) AS txt
  FROM tokrow t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
       CAST(len(tok.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(kept.nk, 0) AS BIGINT) AS n_kept_tokens,
       coalesce(kept.txt, '') AS dedup_text
FROM tok LEFT JOIN kept ON tok.doc_id = kept.doc_id
""".replace("__SHARED__", SUBSTR_SHARED)
)


# --- 18g. pack_invariants — the SQL-expressible half of sequence
#     packing (functions/packing.py).  Pack IDS are partitioning-
#     dependent (not SQL-expressible; rows-only pack_sequences query),
#     but the packing CONTRACT is closed-form: every doc exactly once,
#     token totals preserved, every non-oversize pack within budget with
#     a consistent member-token sum, oversize ⇔ tokens > budget, each
#     oversize pack a singleton, and pack count ≥ the ceil(total/budget)
#     lower bound.  The Spark side re-aggregates the packer's actual
#     output into one row; the oracle computes the counts from the raw
#     table and asserts the booleans as literals — any packer violation
#     hash-mismatches.  Budget 64 keeps both classes populated on the
#     driver corpus (~200 oversize, ~300 packable docs). ---
_PACK_BUDGET = 64


def q_pack_invariants(spark, sf_dir):
    from cl_readability_spark.functions.packing import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0, F.lit(0)
        )
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    packed = pack_sequences(docs, max_tokens=_PACK_BUDGET, num_partitions=4)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("member_sum"),
        F.max("pack_tokens").alias("pack_tokens"),
        F.min("pack_tokens").alias("pack_tokens_min"),
        F.count("*").alias("n_members"),
        F.max(F.col("oversize").cast("int")).alias("has_oversize"),
    )
    pack_checks = per_pack.agg(
        F.count("*").alias("n_packs"),
        F.min(
            (F.col("member_sum") == F.col("pack_tokens"))
            & (F.col("pack_tokens") == F.col("pack_tokens_min"))
        ).alias("sums_ok"),
        F.min(
            (F.col("has_oversize") == 1) | (F.col("pack_tokens") <= _PACK_BUDGET)
        ).alias("budget_ok"),
        F.min(
            (F.col("has_oversize") == 0) | (F.col("n_members") == 1)
        ).alias("singleton_oversize_ok"),
        F.sum(
            F.when(F.col("has_oversize") == 0, F.col("pack_tokens")).otherwise(0)
        ).alias("_packable_tokens"),
    )
    row_checks = packed.agg(
        F.count("*").cast("long").alias("n_rows_out"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
        F.min(
            F.col("oversize") == (F.col("n_tokens") > _PACK_BUDGET)
        ).alias("oversize_ok"),
    )
    # both aggregates are one-row frames; crossJoin of two singletons
    return row_checks.crossJoin(pack_checks).select(
        "n_rows_out",
        "n_docs",
        "total_tokens",
        "n_oversize",
        "oversize_ok",
        "budget_ok",
        "sums_ok",
        "singleton_oversize_ok",
        (
            F.col("n_packs") - F.col("n_oversize")
            >= F.ceil(F.col("_packable_tokens") / F.lit(_PACK_BUDGET))
        ).alias("pack_count_ok"),
    )


SQL_PACK_INVARIANTS = f"""
WITH toks AS (
  SELECT CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS n_tokens
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_out,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n_tokens > {_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oversize,
       TRUE AS oversize_ok,
       TRUE AS budget_ok,
       TRUE AS sums_ok,
       TRUE AS singleton_oversize_ok,
       TRUE AS pack_count_ok
FROM toks
"""


# --- 18h. span_invariants — the SQL-expressible half of the extraction
#     span contract (pipeline/diff.py:explode_spans over the REAL
#     extraction output; the pack_invariants pattern).  Span VALUES are
#     not SQL-expressible (they come out of the DOM extraction), but the
#     CONTRACT _build_text_and_spans promises (core/extract.py:1146) is
#     closed-form, and this re-aggregates the ACTUAL exploded spans to
#     check it: per turn, spans are indexed 0..n-1 in order, each block
#     is non-empty (span_len >= 1), block i starts exactly at block
#     i-1's end + 2 (the "\n\n" joiner), the first starts at 0 and the
#     last ends exactly at len(extracted_text); the exploded row count
#     equals size(content_spans) for EVERY turn (outer explode keeps
#     span-less turns visible).  The oracle recomputes n_turns from the
#     raw documents table (one turn per doc + one digest turn per
#     25-doc conversation — the documents_as_transcripts shape) and
#     asserts the booleans as literals: any violation, including a
#     dropped or duplicated turn, hash-mismatches.  has_spans pins
#     non-vacuity (at least one turn actually produced spans). ---
def q_span_invariants(spark, sf_dir):
    from pyspark.sql.window import Window

    from cl_readability_spark.pipeline.diff import explode_spans
    from cl_readability_spark.pipeline.job import extract_transcripts
    from cl_readability_spark.pipeline.transcripts import (
        documents_as_transcripts,
    )

    res = extract_transcripts(
        documents_as_transcripts(spark, sf_dir), salt_buckets=8
    )
    # single pass over the extraction: outer explode keeps span-less
    # turns, keep_cols carries the per-turn fields through — no
    # self-join back onto the expensive extraction subtree
    ex = explode_spans(
        res.select(
            "conv_id",
            "turn_idx",
            "content_spans",
            F.coalesce(F.length("extracted_text"), F.lit(0)).alias("_tlen"),
            F.coalesce(F.size("content_spans"), F.lit(0)).alias("_nspans"),
        ),
        outer=True,
        keep_cols=("_tlen", "_nspans"),
    )
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("span_idx")
    ex = ex.withColumn("_prev_end", F.lag("end").over(w))
    per_turn = ex.groupBy("conv_id", "turn_idx").agg(
        F.count("span_idx").alias("_n"),
        F.max("_tlen").alias("_tlen"),
        F.max("_nspans").alias("_nspans"),
        F.min(F.coalesce(F.col("span_len") >= 1, F.lit(True))).alias(
            "_len_ok"
        ),
        F.min(
            F.coalesce(
                F.when(F.col("span_idx") == 0, F.col("start") == 0).otherwise(
                    F.col("start") == F.col("_prev_end") + 2
                ),
                F.lit(True),
            )
        ).alias("_adj_ok"),
        F.min(F.coalesce(F.col("span_idx"), F.lit(0))).alias("_min_idx"),
        F.max(F.coalesce(F.col("span_idx"), F.lit(-1))).alias("_max_idx"),
        F.min("start").alias("_min_start"),
        F.max("end").alias("_max_end"),
    )
    return per_turn.agg(
        F.count("*").cast("long").alias("n_turns"),
        F.min(F.col("_n") == F.col("_nspans")).alias("span_count_ok"),
        F.min(
            (F.col("_n") == 0)
            | (
                (F.col("_min_idx") == 0)
                & (F.col("_max_idx") == F.col("_n") - 1)
            )
        ).alias("span_idx_ok"),
        F.min("_adj_ok").alias("adjacency_ok"),
        F.min(
            (F.col("_n") == 0)
            | (
                (F.col("_min_start") == 0)
                & (F.col("_max_end") == F.col("_tlen"))
            )
        ).alias("bounds_ok"),
        F.min("_len_ok").alias("span_len_ok"),
        F.max(F.col("_n") > 0).alias("has_spans"),
    )


SQL_SPAN_INVARIANTS = """
SELECT CAST((SELECT COUNT(*) FROM documents)
            + (SELECT COUNT(DISTINCT CAST(FLOOR(doc_id / 25) AS BIGINT))
               FROM documents) AS BIGINT) AS n_turns,
       TRUE AS span_count_ok,
       TRUE AS span_idx_ok,
       TRUE AS adjacency_ok,
       TRUE AS bounds_ok,
       TRUE AS span_len_ok,
       TRUE AS has_spans
"""


# --- LOCAL twin: dsir_logw — DSIR importance log-weights (Xie et al.
#     2023) recomputed GENERICALLY in DuckDB: tokenize with the
#     engine-parity whitespace class, bucket by the md5-32-bit recipe,
#     fit target (doc_id % 10 = 0) and source (all docs) bucket counts
#     with α=1 smoothing over B=64 buckets, λ-join, per-doc sum — the
#     substring_dedup_planted style of oracle (re-derivation, not a
#     planted closed form).  Unigrams only (the SQL stays tractable; the
#     bigram path is covered by the python differential in
#     tests/test_selection.py).  Lives in LOCAL_TWINS, not SQL_TWINS:
#     the driver registry is at its 50-entry cap and every remaining row
#     is load-bearing, so this twin is enforced by the LOCAL rehearsal
#     (tests/test_queries_oracle.py) only. ---
def q_dsir_logw(spark, sf_dir):
    from cl_readability_spark.functions.selection import dsir_logweights

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    out = dsir_logweights(docs, target, n_buckets=64, ngrams=(1,))
    return out.select(
        "doc_id", F.round("dsir_logw", 6).alias("dsir_logw")
    )


SQL_DSIR_LOGW = """
WITH norm AS (
  SELECT doc_id,
         regexp_replace(lower(text),
                        '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g') AS t
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '[ \t\n\f\r]+')) AS g
  FROM norm WHERE t <> ''
),
bt AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 64
              AS BIGINT) AS b
  FROM toks
),
tc AS (SELECT b, COUNT(*) AS ct FROM bt WHERE doc_id % 10 = 0 GROUP BY b),
scn AS (SELECT b, COUNT(*) AS cs FROM bt GROUP BY b),
tot AS (SELECT (SELECT COALESCE(SUM(ct), 0) FROM tc) AS tt,
               (SELECT COALESCE(SUM(cs), 0) FROM scn) AS st),
lam AS (
  SELECT s.b,
         ln((COALESCE(t.ct, 0) + 1.0) / (tot.tt + 64.0))
           - ln((s.cs + 1.0) / (tot.st + 64.0)) AS lam
  FROM scn s LEFT JOIN tc t USING (b), tot
),
w AS (
  SELECT bt.doc_id, SUM(lam.lam) AS w
  FROM bt JOIN lam ON bt.b = lam.b
  GROUP BY bt.doc_id
)
SELECT d.doc_id,
       CAST(ROUND(COALESCE(w.w, 0.0), 6) AS DOUBLE) AS dsir_logw
FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
"""


# --- LOCAL twin: dedup_weights_planted — soft dedup (SoftDeDup, He et
#     al. 2024) on a planted-multiplicity corpus: every 5 consecutive
#     doc_ids share one synthetic text, so the exact-dup commonness of
#     each doc is its group's size (5, or the ragged tail) and the
#     weight is n**-0.5 (non-default alpha exercises the pow path).
#     The SQL re-derives n by grouping on the SAME planted key — the
#     planted-group recipe of dedup_minhash_planted.  LOCAL_TWINS (the
#     driver registry is at its 50-row cap), enforced by the rehearsal
#     in tests/test_queries_oracle.py. ---
def q_dedup_weights_planted(spark, sf_dir):
    from cl_readability_spark.functions.dedup import dedup_weights

    group = F.floor(F.col("doc_id") / 5).cast("long")
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("planted dup text "), group.cast("string")).alias(
            "text"
        ),
    )
    out = dedup_weights(corpus, id_col="doc_id", text_col="text", alpha=0.5)
    return out.select(
        "doc_id",
        "dup_count",
        F.round("dup_weight", 6).alias("dup_weight"),
    )


SQL_DEDUP_WEIGHTS_PLANTED = """
WITH c AS (
  SELECT doc_id // 5 AS g, COUNT(*) AS n FROM documents GROUP BY g
)
SELECT d.doc_id,
       CAST(c.n AS BIGINT) AS dup_count,
       CAST(ROUND(POWER(c.n, -0.5), 6) AS DOUBLE) AS dup_weight
FROM documents d JOIN c ON d.doc_id // 5 = c.g
"""


# --- LOCAL twin: doc_chunks — context-window chunking re-derived
#     GENERICALLY in DuckDB (tokenize with the engine-exact explicit
#     whitespace class, ceil-div window count, 1-based inclusive list
#     slice) at an overlapping config (max=32, stride=24) so the
#     ragged-tail and overlap arithmetic are both exercised on real
#     document text.  LOCAL_TWINS (driver registry at its 50-row cap),
#     enforced by the tests/test_queries_oracle.py rehearsal. ---
def q_doc_chunks(spark, sf_dir):
    from cl_readability_spark.functions.packing import doc_chunks

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return doc_chunks(docs, max_tokens=32, stride=24)


SQL_DOC_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(text, '\w+|[^\w \t\n\f\r]') AS t
  FROM documents
),
meta AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) = 0 THEN 0
              ELSE 1 + (GREATEST(len(t) - 32, 0) + 23) // 24 END AS nc
  FROM toks
),
ch AS (
  SELECT doc_id, t, n, unnest(range(nc)) AS chunk_idx FROM meta
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 24 AS BIGINT) AS tok_start,
       CAST(LEAST(chunk_idx * 24 + 32, n) AS BIGINT) AS tok_end,
       CAST(LEAST(chunk_idx * 24 + 32, n) - chunk_idx * 24 AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
         AS chunk_text
FROM ch
"""


# --- LOCAL twin: lm_ppl — interpolated-bigram LM perplexity (the CCNet
#     quality signal, Wenzek et al. 2020) re-derived GENERICALLY in
#     DuckDB: tokenize with the engine-parity whitespace class, top-29
#     vocab by (count desc, word asc), closed <unk> mapping (with the
#     guaranteed <unk> unigram row), additive-smoothed unigrams over
#     V=30, ML bigram conditionals with UNPRUNED context totals, and
#     the lam=0.8 interpolated per-token log-prob averaged per doc
#     (first token scored by the unigram).  Reference = every 3rd doc,
#     scored corpus = all docs.  LOCAL_TWINS (driver registry at its
#     50-row cap), enforced by the tests/test_queries_oracle.py
#     rehearsal; float parity at 6dp. ---
def q_lm_ppl(spark, sf_dir):
    from cl_readability_spark.functions.lm import lm_perplexity

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    out = lm_perplexity(
        docs,
        reference=ref,
        vocab_size=30,
        min_bigram_count=1,
        lam=0.8,
        alpha=1.0,
    )
    return out.select(
        "doc_id",
        F.round("lm_logp_per_token", 6).alias("lm_logp_per_token"),
        F.round("lm_perplexity", 6).alias("lm_perplexity"),
    )


SQL_LM_PPL = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_replace(lower(text),
                        '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g') AS t
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(t, '[ \t\n\f\r]+')) AS w,
         unnest(range(len(regexp_split_to_array(t, '[ \t\n\f\r]+'))))
           AS p
  FROM norm WHERE t <> ''
),
uni AS (
  SELECT w, COUNT(*) AS c FROM pos WHERE doc_id % 3 = 0 GROUP BY w
),
vocab AS (
  SELECT w FROM uni QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 29
),
closed_uni AS (
  SELECT cw, SUM(c) AS c FROM (
    SELECT CASE WHEN w IN (SELECT w FROM vocab) THEN w
                ELSE '<unk>' END AS cw, c FROM uni
    UNION ALL SELECT '<unk>', 0
  ) GROUP BY cw
),
puni AS (
  SELECT cw, (c + 1.0) / ((SELECT SUM(c) FROM closed_uni) + 30.0) AS p_uni
  FROM closed_uni
),
refc AS (
  SELECT doc_id, p,
         CASE WHEN w IN (SELECT w FROM vocab) THEN w
              ELSE '<unk>' END AS cw
  FROM pos WHERE doc_id % 3 = 0
),
bic AS (
  SELECT a.cw AS pp, b.cw AS cw, COUNT(*) AS c
  FROM refc a JOIN refc b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  GROUP BY a.cw, b.cw
),
bi AS (
  SELECT pp, cw, c * 1.0 / SUM(c) OVER (PARTITION BY pp) AS p_ml FROM bic
),
scoretoks AS (
  SELECT doc_id, p,
         CASE WHEN w IN (SELECT w FROM vocab) THEN w
              ELSE '<unk>' END AS cw
  FROM pos
),
withprev AS (
  SELECT doc_id, p, cw,
         lag(cw) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM scoretoks
),
logps AS (
  SELECT t.doc_id,
         CASE WHEN t.prev IS NULL THEN ln(u.p_uni)
              ELSE ln(0.8 * COALESCE(b.p_ml, 0.0) + 0.2 * u.p_uni)
         END AS logp
  FROM withprev t
  JOIN puni u ON t.cw = u.cw
  LEFT JOIN bi b ON b.pp = t.prev AND b.cw = t.cw
),
perdoc AS (SELECT doc_id, AVG(logp) AS lp FROM logps GROUP BY doc_id)
SELECT d.doc_id,
       CAST(ROUND(perdoc.lp, 6) AS DOUBLE) AS lm_logp_per_token,
       CAST(ROUND(EXP(-perdoc.lp), 6) AS DOUBLE) AS lm_perplexity
FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
"""


# --- 19e. pdf_layout_planted — the PDF/layout-parse front-end
#     (pipeline/pdf_layout.py: toy-format Arrow decode → pure-JVM layout
#     assembly) hash-checked end to end by the media_planted recipe:
#     payload = a closed-form toy PDF built per doc_id (two pages, a
#     repeated top-band header, a digit-folding footer, a 4pt margin
#     note, a hyphen-split body pair, a page-1 solo body line), so every
#     layout rule fires with a KNOWN outcome: header+footer removed (4
#     lines), margin notes tiny-dropped (mean size 76/9 ~ 8.44, 0.6x ->
#     5.07 > 4), the contin-/uation join de-hyphenates, paragraphs read
#     in (page, column, y) order.  Expected text and all seven metric
#     columns are closed-form in doc_id — a broken sweep, band rule,
#     fold, fusion regex, or metric sum flips the comparison.  DRIVER
#     row since round 7 (funded by retiring the rows-only span_explode
#     entry — see the NOTE in __spark_entry__.py). ---
def q_pdf_layout_planted(spark, sf_dir):
    from cl_readability_spark.pipeline.pdf_layout import pdf_extract

    d = F.col("doc_id").cast("string")
    payload = F.encode(
        F.concat_ws(
            "\n",
            F.lit("PDFFAKE1"),
            F.lit("page 612 792"),
            F.lit("box 50 20 250 32 10 Doc Report"),
            F.lit("box 280 760 330 770 9 Page 1"),
            F.lit("box 300 400 308 480 4 margin note"),
            F.concat(F.lit("box 50 200 270 212 10 alpha "), d, F.lit(" contin-")),
            F.concat(F.lit("box 50 214 270 226 10 uation beta "), d),
            F.lit("page 612 792"),
            F.lit("box 50 20 250 32 10 Doc Report"),
            F.lit("box 280 760 330 770 9 Page 2"),
            F.lit("box 300 400 308 480 4 margin note"),
            F.concat(F.lit("box 50 200 270 212 10 gamma "), d, F.lit(" solo")),
        ),
        "UTF-8",
    )
    docs = _docs(spark, sf_dir).select("doc_id", payload.alias("payload"))
    return pdf_extract(docs)


SQL_PDF_LAYOUT_PLANTED = """
SELECT doc_id,
       'ok' AS status,
       'alpha ' || doc_id || ' continuation beta ' || doc_id ||
         chr(10) || chr(10) || 'gamma ' || doc_id || ' solo'
         AS extracted_text,
       CAST(2 AS INTEGER) AS n_pages,
       CAST(9 AS BIGINT) AS n_boxes,
       CAST(2 AS BIGINT) AS n_tiny_dropped,
       CAST(7 AS BIGINT) AS n_lines,
       CAST(4 AS BIGINT) AS n_repeated_removed,
       CAST(2 AS BIGINT) AS n_paragraphs,
       CAST(length('alpha ' || doc_id || ' continuation beta ' || doc_id
                   || chr(10) || chr(10) || 'gamma ' || doc_id || ' solo')
            AS BIGINT) AS chars_out
FROM documents
"""



SQL_TWINS: dict[str, tuple] = {
    "normalize_ws": (q_normalize_ws, SQL_NORMALIZE_WS),
    "word_count": (q_word_count, SQL_WORD_COUNT),
    "text_len": (q_text_len, SQL_TEXT_LEN),
    "class_weight": (q_class_weight, SQL_CLASS_WEIGHT),
    "readerable_score": (q_readerable_score, SQL_READERABLE_SCORE),
    "readerable_triage_sql": (q_readerable_triage_sql, SQL_READERABLE_TRIAGE),
    "turn_order": (q_turn_order, SQL_TURN_ORDER),
    "resume_antijoin": (q_resume_antijoin, SQL_RESUME_ANTIJOIN),
    "metrics_rollup": (q_metrics_rollup, SQL_METRICS_ROLLUP),
    "rollup_hierarchy": (q_rollup_hierarchy, SQL_ROLLUP_HIERARCHY),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "rolling_hash": (q_rolling_hash, SQL_ROLLING_HASH),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "ann_topk": (q_ann_topk, SQL_ANN_TOPK),
    "langid": (q_langid, SQL_LANGID),
    "candidate_score": (q_candidate_score, SQL_CANDIDATE_SCORE),
    "link_density": (q_link_density, SQL_LINK_DENSITY),
    "dedup_minhash_planted": (q_dedup_minhash_planted, SQL_DEDUP_MINHASH_PLANTED),
    "dedup_simhash_planted": (q_dedup_simhash_planted, SQL_DEDUP_SIMHASH_PLANTED),
    "dedup_winnow_planted": (q_dedup_winnow_planted, SQL_DEDUP_WINNOW_PLANTED),
    "dedup_clusters_planted": (q_dedup_clusters_planted, SQL_DEDUP_CLUSTERS_PLANTED),
    "curation_planted": (q_curation_planted, SQL_CURATION_PLANTED),
    "curation_report_planted": (
        q_curation_report_planted,
        SQL_CURATION_REPORT_PLANTED,
    ),
    "curation_line_planted": (
        q_curation_line_planted,
        SQL_CURATION_LINE_PLANTED,
    ),
    "curation_full_planted": (
        q_curation_full_planted,
        SQL_CURATION_FULL_PLANTED,
    ),
    "decontam_planted": (q_decontam_planted, SQL_DECONTAM_PLANTED),
    "source_cap": (q_source_cap, SQL_SOURCE_CAP),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "split_assign": (q_split_assign, SQL_SPLIT_ASSIGN),
    "mix_sample": (q_mix_sample, SQL_MIX_SAMPLE),
    "pack_invariants": (q_pack_invariants, SQL_PACK_INVARIANTS),
    "span_invariants": (q_span_invariants, SQL_SPAN_INVARIANTS),
    # repetition_score retired to LOCAL_TWINS round 8 — subsumed by the
    # gopher_repetition twin (all 13 Table-A1 metrics hash-checked) and
    # by curation_full_planted's composed repetition gate; funds the
    # curation_full_planted row under the 50-query cap.
    "gopher_repetition": (q_gopher_repetition, SQL_GOPHER_REPETITION),
    "ann_ivf_planted": (q_ann_ivf_planted, SQL_ANN_IVF_PLANTED),
    "ann_lsh_planted": (q_ann_lsh_planted, SQL_ANN_LSH_PLANTED),
    "dedup_embedding_planted": (q_dedup_embedding_planted, SQL_DEDUP_EMBEDDING_PLANTED),
    "semdedup_planted": (q_semdedup_planted, SQL_SEMDEDUP_PLANTED),
    "media_planted": (q_media_planted, SQL_MEDIA_PLANTED),
    # Round-8 mid-round rotation: c4_planted and substring_dedup_planted
    # move to LOCAL_TWINS to fund the two NEW composed twins
    # (curation_url_planted, domain_gate_planted) under the 50-query
    # cap.  Both stages stay driver-hash-checked IN COMPOSITION by
    # curation_full_planted (each 18c2-full role fires exactly one
    # stage with closed-form attribution) and keep their standalone
    # python-oracle differentials + plan goldens in pytest; the LOCAL
    # rehearsal (tests/test_queries_oracle.py) still runs both twins
    # every round.  They rotate back with the round-9 batch.
    "gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
    "line_dedup_planted": (q_line_dedup_planted, SQL_LINE_DEDUP_PLANTED),
    "pdf_layout_planted": (q_pdf_layout_planted, SQL_PDF_LAYOUT_PLANTED),
    # Round-8 rotation (verdict task 3): the four generic relational
    # twins (pricing_summary, top_customers, regional_customers,
    # user_event_seq) moved to LOCAL_TWINS for a round to give the
    # round-7 LOCAL twins their first driver-verified hash rows; their
    # §2.11 categories stay covered by registered rows — aggs by
    # metrics_rollup/rollup_hierarchy, broadcast join by
    # decontam_planted's broadcast path + ann twins, window/ordered
    # sequence by turn_order, anti-join by resume_antijoin.  They rotate
    # back (with the remaining LOCAL twins) in round 9.  The promoted
    # rows (dsir_logw, lm_ppl, conv_flags, textnorm) are appended via
    # SQL_TWINS.update() next to their builder definitions below.
}


# --- LOCAL twin: conv_flags — conversation-level transcript curation
#     (functions/transcript_quality.py) re-derived GENERICALLY in
#     DuckDB: both engines build the SAME transcript corpus closed-form
#     from documents (4-turn user/assistant/tool/assistant convs with
#     planted same-speaker violations (doc_id%11), whitespace-only turns
#     (doc_id%7), end-of-conversation turn_idx gaps (doc_id%17 on the
#     last turn only — NEVER a duplicate idx: adjacency order on dup idx
#     is unspecified by contract), and backwards timestamps (doc_id%13)),
#     then the SQL recomputes every integrity/shape column with its own
#     window + aggregation.  All four planted pathologies fire on some
#     conversations and all rules pass on others, so conv_ok carries
#     signal both ways. ---
def q_conv_flags(spark, sf_dir):
    from cl_readability_spark.functions.transcript_quality import (
        conversation_flags,
    )

    doc = F.col("doc_id")
    pos = doc % 4
    role = F.when(doc % 11 == 0, F.lit("user")).otherwise(
        F.element_at(
            F.array(
                F.lit("user"),
                F.lit("assistant"),
                F.lit("tool"),
                F.lit("assistant"),
            ),
            (pos + 1).cast("int"),
        )
    )
    text = F.when(doc % 7 == 0, F.lit(" \t ")).otherwise(F.col("text"))
    idx = (
        pos + F.when((pos == 3) & (doc % 17 == 0), F.lit(2)).otherwise(F.lit(0))
    ).cast("int")
    ep = (
        F.lit(1_600_000_000)
        + doc * 60
        - F.when(doc % 13 == 0, F.lit(150)).otherwise(F.lit(0))
    )
    tr = _docs(spark, sf_dir).select(
        F.floor(doc / 4).cast("long").cast("string").alias("conv_id"),
        idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.timestamp_seconds(ep).alias("ts"),
    )
    return conversation_flags(tr)


SQL_CONV_FLAGS = """
WITH t AS (
  SELECT CAST(doc_id // 4 AS VARCHAR) AS conv_id,
         CAST(doc_id % 4 + CASE WHEN doc_id % 4 = 3 AND doc_id % 17 = 0
                                THEN 2 ELSE 0 END AS INTEGER) AS turn_idx,
         CASE WHEN doc_id % 11 = 0 THEN 'user'
              ELSE (['user','assistant','tool','assistant'])
                   [CAST(doc_id % 4 AS INTEGER) + 1] END AS role,
         CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(9) || ' '
              ELSE text END AS text,
         1600000000 + doc_id * 60
           - CASE WHEN doc_id % 13 = 0 THEN 150 ELSE 0 END AS ep
  FROM documents
),
w AS (
  SELECT *,
         lag(role) OVER cw AS prev_role,
         lag(ep)   OVER cw AS prev_ep,
         row_number() OVER cw AS rn
  FROM t
  WINDOW cw AS (PARTITION BY conv_id ORDER BY turn_idx)
),
agg AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_user,
         CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_assistant,
         CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tool,
         CAST(SUM(CASE WHEN regexp_replace(coalesce(text, ''),
                          '[ \t\n\f\r]+', '', 'g') = ''
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_turns,
         CAST(SUM(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
         CAST(SUM(CASE WHEN role = 'tool'
                       THEN length(coalesce(text, '')) ELSE 0 END) AS BIGINT)
           AS tool_chars,
         arg_min(role, turn_idx) = 'user' AS starts_with_user,
         CAST(SUM(
             (CASE WHEN prev_role IS NOT NULL AND role = prev_role
                        AND prev_role <> 'tool' THEN 1 ELSE 0 END)
           + (CASE WHEN role = 'tool' AND prev_role IS NOT NULL
                        AND prev_role NOT IN ('assistant', 'tool')
                   THEN 1 ELSE 0 END)
           + (CASE WHEN role IS NULL THEN 1 ELSE 0 END)) AS BIGINT)
           AS role_violations,
         bool_and(turn_idx = rn - 1) AS idx_contiguous,
         SUM(CASE WHEN prev_ep IS NOT NULL AND ep < prev_ep
                  THEN 1 ELSE 0 END) = 0 AS ts_monotonic,
         CAST(MAX(ep) - MIN(ep) AS BIGINT) AS duration_s
  FROM w GROUP BY conv_id
)
SELECT *,
       (n_turns BETWEEN 2 AND 10000
        AND role_violations <= 0
        AND idx_contiguous AND ts_monotonic
        AND n_empty_turns * 10000 <= 2000 * n_turns
        AND tool_chars * 10000 <= 8000 * greatest(total_chars, 1)
        AND starts_with_user) AS conv_ok
FROM agg
"""


# --- LOCAL twin: textnorm — the CCNet-style normalization chain
#     (functions/textnorm.py) re-derived in DuckDB with DuckDB's OWN
#     unicode machinery (nfc_normalize / strip_accents / lower), so the
#     python-unicodedata Arrow stage must agree byte-for-byte with an
#     independent engine on planted composed ('é'), decomposed
#     ('E'+U+0301), diaeresis, ligature (U+FB01), digit, and
#     tab/multi-space text.  Order pinned by both sides: form → strip
#     accents → lower → fold digits → collapse whitespace. ---
def q_textnorm(spark, sf_dir):
    from cl_readability_spark.functions.textnorm import normalize_text

    # explicit escapes: composed e-acute, then DECOMPOSED E + combining
    # acute (NFC must unify them), I-diaeresis, fi-ligature U+FB01
    planted = F.concat(
        F.lit("Caf\u00e9 CAFE\u0301 12"),
        F.col("doc_id").cast("string"),
        F.lit("\tNA\u00cfVE  \ufb01n"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    out = normalize_text(
        docs,
        form="NFC",
        strip_accents=True,
        lowercase=True,
        fold_digits=True,
        collapse_ws=True,
    )
    return out.select("doc_id", "norm_text")


SQL_TEXTNORM = """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           lower(strip_accents(nfc_normalize(
             'Caf' || chr(233) || ' CAFE' || chr(769) || ' 12'
             || doc_id || chr(9) || 'NA' || chr(207) || 'VE  '
             || chr(64257) || 'n'))),
           '[0-9]', '0', 'g'),
         '[ \t\n\f\r]+', ' ', 'g')) AS norm_text
FROM documents
"""


# --- LOCAL twin: semantic_decontam — the embedding-space benchmark
#     decontamination screen re-derived in DuckDB with its OWN vector
#     machinery (list_cosine_similarity over DOUBLE[] casts — the
#     embeddings parquet is float32, and computing in float32 on one
#     engine but float64 on the other could flip the x10k rounding):
#     benchmark = every 10th vector, so bench members hit themselves at
#     cosine ~1.0 (ROUNDED x10k = 10000 on both engines — the rint-not-
#     floor call in the operator) and generic dim-64 vectors sit far
#     from the 9999 threshold. ---
def q_semantic_decontam(spark, sf_dir):
    from cl_readability_spark.functions.decontam import semantic_decontam

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    bench = embs.filter(F.col("vec_id") % 10 == 0).select("embedding")
    out = semantic_decontam(embs, bench, threshold_x10k=9999)
    return out.select(
        "vec_id",
        "semantic_max_sim_x10k",
        F.col("semantically_contaminated").cast("int").alias(
            "semantically_contaminated"
        ),
    )


SQL_SEMANTIC_DECONTAM = """
WITH bench AS (
  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE vec_id % 10 = 0
),
sims AS (
  SELECT a.vec_id,
         CAST(ROUND(MAX(list_cosine_similarity(
             CAST(a.embedding AS DOUBLE[]), b.e)) * 10000) AS INTEGER) AS s
  FROM embeddings a, bench b
  GROUP BY a.vec_id
)
SELECT vec_id,
       s AS semantic_max_sim_x10k,
       CAST(s >= 9999 AS INTEGER) AS semantically_contaminated
FROM sims
"""


# --- LOCAL twin: bpe_word_counts — the DISTRIBUTED half of the BPE
#     trainer (functions/bpe.py): BPE training needs only the word-type
#     frequency table, so hash-checking the top-V word counts (count
#     DESC, word ASC — the deterministic cap ordering) pins the one
#     corpus pass the fit performs; the driver-side merge loop is
#     pinned by the incremental-vs-naive differential in
#     tests/test_bpe.py. ---
def q_bpe_word_counts(spark, sf_dir):
    from cl_readability_spark.functions.bpe import word_counts

    return word_counts(
        _docs(spark, sf_dir).select("text"), max_types=200
    )


SQL_BPE_WORD_COUNTS = """
WITH w AS (
  SELECT unnest(string_split_regex(
           regexp_replace(lower(coalesce(text, '')),
                          '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g'),
           '[ \t\n\f\r]+')) AS word
  FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM w
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 200
"""


# Round-8 rotation, second half (verdict task 3): promote four of the
# round-7 LOCAL twins into the driver registry for their first
# driver-verified hash rows.  update() here because their builders are
# defined after the SQL_TWINS literal.
# --- LOCAL twin: incremental_exact — the round-8 bucketed-catalog
#     incremental dedup (functions/incremental.py) on a planted split:
#     catalog = docs with doc_id % 3 == 0 (written as a REAL bucketed
#     saveAsTable inside the twin — the probe exercises the exact
#     production path, bucketed scan and all), batch = the remaining
#     docs PLUS the catalog docs re-keyed +100000 (exact text copies →
#     guaranteed catalog hits).  The SQL re-derives in_catalog via an
#     EXISTS anti-pattern over the same md5(normalized) fingerprint and
#     batch_keep via the same min-doc_id window.  LOCAL_TWINS (driver
#     registry at its 50-row cap; rotates in round 9). ---
def q_incremental_exact(spark, sf_dir):
    import shutil

    from cl_readability_spark.functions.incremental import (
        incremental_exact_dedup,
        write_exact_catalog,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    table = "clrs_twin_inc_exact"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(f"{warehouse}/{table}{suffix}", ignore_errors=True)
    write_exact_catalog(
        docs.filter(F.col("doc_id") % 3 == 0), table, n_buckets=8
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0).unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    out = incremental_exact_dedup(batch, table)
    return out.select(
        "doc_id",
        "fingerprint",
        F.col("in_catalog").cast("int").alias("in_catalog"),
        F.col("batch_keep").cast("int").alias("batch_keep"),
    )


SQL_INCREMENTAL_EXACT = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(coalesce(text, '')),
                            '[^a-z0-9]', '', 'g')) AS fingerprint
  FROM documents
),
batch AS (
  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, fingerprint FROM fp
  WHERE doc_id % 3 = 0
)
SELECT b.doc_id,
       b.fingerprint,
       CAST(EXISTS (SELECT 1 FROM fp c
                    WHERE c.doc_id % 3 = 0
                      AND c.fingerprint = b.fingerprint) AS INT)
         AS in_catalog,
       CAST(ROW_NUMBER() OVER (PARTITION BY b.fingerprint
                               ORDER BY b.doc_id) = 1 AS INT)
         AS batch_keep
FROM batch b
"""


# --- LOCAL twin: ingest_planted — the round-8 incremental ingest LOOP
#     (pipeline/ingest.py) hash-checked end to end on the 18c planted
#     curation corpus, keyed (conv_id, turn_idx): batch 1 = the corpus,
#     batch 2 = a full re-keyed copy.  Batch 1's kept roles {0,5..9}
#     land in the exact catalog, so batch 2's copies of roles 0 and 3
#     (rot(0) — role 3 IS role 0's text) and the fillers 5-9 are
#     exact_in_catalog; role 4 ('tiny') was never kept (quality) so its
#     copy re-fails quality; roles 1/2 (rot(1)/rot(2)) were near-dup-
#     dropped so their fingerprints are NOT in the catalog — they re-
#     enter curate() where, with their batch-1 cluster-mate rot(0)
#     already catalog-dropped, the {1,2} cluster keeps its min key:
#     role 1 is KEPT, role 2 near-dup-dropped.  Every outcome is
#     closed-form; catalog-skipped rows carry -1 curation flags (they
#     never reached curate()).  Exercises in ONE hash row: the resume
#     anti-join path, the bucketed catalog probe, the post-commit
#     catalog append, and the probe→curate composition.  LOCAL_TWINS
#     (driver registry at its 50-row cap; rotates in round 9). ---
def q_ingest_planted(spark, sf_dir):
    import shutil
    import tempfile

    from cl_readability_spark.functions.incremental import (
        write_exact_catalog,
    )
    from cl_readability_spark.pipeline.ingest import ingest_batch
    from cl_readability_spark.pipeline.resume import CheckpointedSink

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    # the 18c planted-corpus construction (see _curation_planted_curated)
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    role = F.pmod(F.col("doc_id"), F.lit(10))
    cycle = [F.lit("the"), F.lit("and"), F.lit("is")] + [
        F.concat(F.lit("w"), g, F.lit(f"x{j}")) for j in range(7)
    ]

    def rot(s: int):
        words = (cycle[s:] + cycle[:s]) * 3
        return F.concat_ws(" ", *words)

    filler = F.concat_ws(
        " ",
        F.lit("the"),
        F.lit("and"),
        F.lit("is"),
        *[
            F.concat(
                F.lit("u"), F.col("doc_id").cast("string"), F.lit(f"x{j}")
            )
            for j in range(27)
        ],
    )
    text = (
        F.when(role == 4, F.lit("tiny"))
        .when(role == 1, rot(1))
        .when(role == 2, rot(2))
        .when(role >= 5, filler)
        .otherwise(rot(0))
    )
    batch1 = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        text.alias("extracted_text"),
    )
    batch2 = batch1.withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )

    table = "clrs_twin_ingest_exact"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for suffix in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
        shutil.rmtree(f"{warehouse}/{table}{suffix}", ignore_errors=True)
    empty = spark.createDataFrame(
        [], "_ingest_id string, extracted_text string"
    )
    write_exact_catalog(
        empty, table, text_col="extracted_text", id_col="_ingest_id",
        n_buckets=8,
    )
    root = tempfile.mkdtemp(prefix="clrs_twin_ingest_sink_")
    try:
        sink = CheckpointedSink(root)
        opts = {
            "policy": "clusters",
            "materialize": "none",
            "minhash_carry": "arrays",
        }
        for b in (batch1, batch2):
            ingest_batch(
                b, sink, exact_table=table, pre_extracted=True,
                curate_opts=opts,
            )
        written = (
            sink.read(spark)
            .filter(F.col("conv_id").startswith("b2-"))
            .select(
                "conv_id",
                F.col("exact_in_catalog").cast("int").alias(
                    "exact_in_catalog"
                ),
                F.coalesce(F.col("quality_ok").cast("int"), F.lit(-1))
                .alias("quality_ok"),
                F.coalesce(F.col("exact_keep").cast("int"), F.lit(-1))
                .alias("exact_keep"),
                F.coalesce(F.col("near_dup_drop").cast("int"), F.lit(-1))
                .alias("near_dup_drop"),
                F.col("kept").cast("int").alias("kept"),
            )
        )
        # materialize before the tmpdir vanishes
        out = spark.createDataFrame(
            written.collect(), schema=written.schema
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


SQL_INGEST_PLANTED = """
SELECT 'b2-' || CAST(doc_id AS VARCHAR)                        AS conv_id,
       CAST(doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) AS INT)      AS exact_in_catalog,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 4 THEN 0 ELSE 1 END            AS quality_ok,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 4 THEN 0 ELSE 1 END            AS exact_keep,
       CASE WHEN doc_id % 10 IN (0, 3, 5, 6, 7, 8, 9) THEN -1
            WHEN doc_id % 10 = 2 THEN 1 ELSE 0 END            AS near_dup_drop,
       CAST(doc_id % 10 = 1 AS INT)                           AS kept
FROM documents
"""


SQL_TWINS.update(
    {
        "dsir_logw": (q_dsir_logw, SQL_DSIR_LOGW),
        "lm_ppl": (q_lm_ppl, SQL_LM_PPL),
        "conv_flags": (q_conv_flags, SQL_CONV_FLAGS),
        "textnorm": (q_textnorm, SQL_TEXTNORM),
    }
)


# --- LOCAL twin: epoch_shuffle — deterministic training-order shuffle
#     (functions/assembly.py).  The oracle recomputes the md5 shuffle
#     key (seed \x1f doc_id — the split_assign/mix_sample portable-hash
#     recipe) and the first-8-hex-chars shard bucket from scratch in
#     DuckDB; any divergence in key bytes, hex casing, or the 32-bit
#     conversion breaks the hash.  LOCAL_TWINS (driver registry at its
#     50-row cap), enforced by the tests/test_queries_oracle.py
#     rehearsal. ---
def q_epoch_shuffle(spark, sf_dir):
    from cl_readability_spark.functions.assembly import epoch_shuffle

    out = epoch_shuffle(
        _docs(spark, sf_dir).select("doc_id"),
        seed=17,
        id_cols=("doc_id",),
        n_shards=8,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "shuffle_key",
        F.col("shard").cast("long").alias("shard"),
    )


SQL_EPOCH_SHUFFLE = """
WITH k AS (
  SELECT doc_id,
         md5('17' || chr(31) || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       shuffle_key,
       CAST(CAST(('0x' || substr(shuffle_key, 1, 8)) AS UBIGINT) % 8
            AS BIGINT) AS shard
FROM k
"""


# --- LOCAL twin: token_budget — deterministic greedy token-budget
#     assembly (functions/assembly.py:token_budget_sample).  The engine
#     computes the running token total with the scalable two-phase
#     prefix sum (range partition → in-partition window + broadcast
#     offsets); the oracle re-derives the SAME selection with the plain
#     global window DuckDB can afford — so the twin checks that the
#     distributed prefix sum is value-identical to the textbook
#     single-threaded cumulative sum, per doc (cum_before AND the
#     selected flag, integers, engine-exact).  Priority = trimmed char
#     length (desc), tiebreak doc_id, tokens = the word_count twin's
#     expression, budget 9,000 of the corpus' ~27k total (selects 102
#     of 500 docs at sf0.01 — signal both ways).  LOCAL_TWINS (driver
#     registry at its 50-row cap). ---
def q_token_budget(spark, sf_dir):
    from cl_readability_spark.functions.assembly import token_budget_sample

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        F.length(F.trim(F.col("text"))).cast("long").alias("prio"),
    )
    out = token_budget_sample(
        toks,
        9000,
        token_col="n_tokens",
        priority_col="prio",
        id_col="doc_id",
        n_ranges=8,
        join_back=False,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "budget_tokens",
        "cum_before_tokens",
        F.col("selected").cast("int").alias("selected"),
    )


SQL_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id,
         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(length(trim(text)) AS BIGINT) AS prio
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY prio DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       n_tokens AS budget_tokens,
       cb AS cum_before_tokens,
       CAST(cb < 9000 AS INTEGER) AS selected
FROM c
"""


# --- LOCAL twin: ngram_top — exact corpus n-gram heavy hitters
#     (functions/ngrams.py:ngram_counts).  The oracle rebuilds the
#     trigram stream generically in DuckDB (lower+trim, the explicit
#     engine-parity whitespace class, 1-based inclusive list slices
#     over a generate_series of gram starts) and re-aggregates with
#     GROUP BY / HAVING — checking the zip_with-over-slices gram
#     builder and the occurrence semantics (every repeat counts, not
#     document frequency).  min_count=4 keeps 620 of 16k distinct
#     trigrams at sf0.01 — the HAVING filter carries signal.
#     LOCAL_TWINS (driver registry at its 50-row cap). ---
def q_ngram_top(spark, sf_dir):
    from cl_readability_spark.functions.ngrams import ngram_counts

    return ngram_counts(
        _docs(spark, sf_dir), text_col="text", n=3, min_count=4
    ).select("gram", F.col("n_occurrences").cast("long").alias("n_occurrences"))


SQL_NGRAM_TOP = """
WITH norm AS (
  SELECT lower(trim(text)) AS t FROM documents
),
w AS (
  SELECT regexp_split_to_array(t, '[ \t\n\f\r]+') AS words
  FROM norm WHERE t <> ''
),
g AS (
  SELECT array_to_string(words[i:i+2], ' ') AS gram
  FROM w, LATERAL unnest(generate_series(1, len(words) - 2)) AS s(i)
  WHERE len(words) >= 3
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g GROUP BY gram HAVING COUNT(*) >= 4
"""


# --- LOCAL twin: rank_buckets — stratified score-rank bucketing
#     (functions/assembly.py:rank_buckets — the machinery under
#     lm.ppl_partition's CCNet head/middle/tail cut; the LM score core
#     has its own 6dp twin, lm_ppl, so this one scores with the EXACT
#     integer n_chars to keep rank ties engine-deterministic).  The
#     engine computes the per-language rank with the scalable two-phase
#     prefix COUNT (range partition → in-partition row_number +
#     broadcast offsets); the oracle re-derives it with the plain
#     row_number()/count(*) global window DuckDB can afford, and the
#     SAME floor-rank bucket rule 1 + (rank-1)*3 // n.  NULLS FIRST is
#     explicit in the SQL (DuckDB defaults ASC to NULLS LAST; Spark to
#     NULLS FIRST).  LOCAL_TWINS (driver registry at its 50-row cap). ---
def q_rank_buckets(spark, sf_dir):
    from cl_readability_spark.functions.assembly import rank_buckets

    out = rank_buckets(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        "n_chars",
        n_buckets=3,
        group_cols=("lang",),
        id_col="doc_id",
        ascending=True,
        labels=("head", "middle", "tail"),
        n_ranges=8,
        join_back=False,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score_rank").cast("long").alias("score_rank"),
        F.col("rank_bucket").cast("int").alias("rank_bucket"),
        F.col("rank_bucket_label").alias("bucket_label"),
    )


SQL_RANK_BUCKETS = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY n_chars ASC NULLS FIRST, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rk AS BIGINT) AS score_rank,
       CAST(1 + ((rk - 1) * 3) // n AS INTEGER) AS rank_bucket,
       CASE 1 + ((rk - 1) * 3) // n
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket_label
FROM r
"""


# --- LOCAL twin: url_dedup_planted — URL canonicalization + URL-level
#     dedup (functions/urls.py).  Both engines build the SAME planted
#     raw-URL corpus from doc_id (4 variants per page group: shouty
#     scheme/host + www + utm params; explicit :80 + trailing slash +
#     reordered params; mixed-case host + fbclid; fragment-only).  The
#     engine canonicalizes with the codegen projection and picks
#     winners with the skew-safe min(struct) agg; the oracle re-derives
#     the WHOLE canonical contract generically in DuckDB SQL — RFC 3986
#     appendix-B regex split, lower scheme/host, www/default-port
#     strip, trailing-slash strip, list-level tracking-param filter
#     (RE2 has no lookahead, so the oracle filters whole params after
#     splitting — same whole-param semantics as the engine's
#     boundary-anchored regex), byte-wise param sort — and keeps
#     min(doc_id) per canonical group via a window.  NULL/blank URLs
#     are kept (no duplication evidence).  LOCAL_TWINS (driver registry
#     at its 50-row cap). ---
def q_url_dedup_planted(spark, sf_dir):
    from cl_readability_spark.functions.urls import url_dedup

    d = F.col("doc_id")
    g = d % 100
    h = (g % 7).cast("string")
    gs = g.cast("string")
    ds = d.cast("string")
    raw = (
        F.when(d % 23 == 0, F.lit(None).cast("string"))
        .when(d % 23 == 1, F.lit("  "))
        .when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW.Site"), h, F.lit(".COM/page/"), gs,
                F.lit("?utm_source=feed&x=1&b=2"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("http://site"), h, F.lit(".com:80/page/"), gs,
                F.lit("/?b=2&x=1"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("http://Site"), h, F.lit(".com/page/"), gs,
                F.lit("?x=1&b=2&fbclid=f"), ds,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), h, F.lit(".com/page/"), gs,
                F.lit("#s"), ds,
            )
        )
    )
    docs = _docs(spark, sf_dir).select("doc_id").withColumn("url", raw)
    out = url_dedup(docs, url_col="url", id_col="doc_id")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "canon_url",
        F.col("url_keep").cast("int").alias("url_keep"),
    )


SQL_URL_DEDUP_PLANTED = r"""
WITH raw AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 23 = 0 THEN NULL
      WHEN doc_id % 23 = 1 THEN '  '
      WHEN doc_id % 4 = 0 THEN
        'HTTP://WWW.Site' || (doc_id % 100) % 7 || '.COM/page/'
        || doc_id % 100 || '?utm_source=feed&x=1&b=2'
      WHEN doc_id % 4 = 1 THEN
        'http://site' || (doc_id % 100) % 7 || '.com:80/page/'
        || doc_id % 100 || '/?b=2&x=1'
      WHEN doc_id % 4 = 2 THEN
        'http://Site' || (doc_id % 100) % 7 || '.com/page/'
        || doc_id % 100 || '?x=1&b=2&fbclid=f' || doc_id
      ELSE
        'http://site' || (doc_id % 100) % 7 || '.com/page/'
        || doc_id % 100 || '#s' || doc_id
    END AS url
  FROM documents
),
t AS (SELECT doc_id, trim(url) AS s FROM raw),
p AS (
  SELECT doc_id, s,
    lower(COALESCE(regexp_extract(s, '^(?:([^:/?#]+):)', 1), '')) AS scheme,
    regexp_matches(s, '^(?:[^:/?#]+:)?//') AS has_auth,
    COALESCE(regexp_extract(s, '^(?:[^:/?#]+:)?(?://([^/?#]*))?', 1), '') AS rawauth,
    COALESCE(regexp_extract(s,
      '^(?:[^:/?#]+:)?(?://[^/?#]*)?([^?#]*)', 1), '') AS rawpath,
    COALESCE(regexp_extract(s, '^[^?#]*\?([^#]*)', 1), '') AS rawq
  FROM t
),
a AS (
  SELECT doc_id, s, scheme, has_auth, rawpath, rawq,
    COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 1), '') AS userinfo,
    lower(COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 2), '')) AS host0,
    COALESCE(regexp_extract(rawauth,
      '^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$', 3), '') AS port0
  FROM p
),
c AS (
  SELECT doc_id, s, scheme, has_auth, userinfo,
    CASE WHEN starts_with(host0, 'www.')
              AND contains(substr(host0, 5), '.')
         THEN substr(host0, 5) ELSE host0 END AS host,
    CASE WHEN port0 = '' OR (scheme = 'http' AND port0 = '80')
              OR (scheme = 'https' AND port0 = '443')
         THEN '' ELSE ':' || port0 END AS port,
    CASE WHEN length(
           CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END
         ) > 1
         THEN regexp_replace(
           CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END,
           '/$', '')
         ELSE CASE WHEN has_auth AND rawpath = '' THEN '/' ELSE rawpath END
    END AS path,
    COALESCE(array_to_string(
      list_sort(
        list_filter(string_split(rawq, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[A-Za-z0-9_]+|fbclid|gclid|gclsrc|dclid|msclkid|yclid|igshid|mc_cid|mc_eid|_hsenc|_hsmi|_ga|vero_id|oly_anon_id|oly_enc_id)(=[^&]*)?$'))),
      '&'), '') AS q
  FROM a
),
canon AS (
  SELECT doc_id,
    CASE WHEN s IS NULL OR s = '' THEN NULL ELSE
      (CASE WHEN scheme = '' THEN '' ELSE scheme || ':' END)
      || (CASE WHEN has_auth THEN '//' || userinfo || host || port
               ELSE '' END)
      || path
      || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
    END AS canon_url
  FROM c
),
keep AS (
  SELECT doc_id, canon_url,
    CASE WHEN canon_url IS NULL THEN 1
         WHEN doc_id = min(doc_id) OVER (PARTITION BY canon_url)
         THEN 1 ELSE 0 END AS url_keep
  FROM canon
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, canon_url,
       CAST(url_keep AS INTEGER) AS url_keep
FROM keep
"""


# --- LOCAL twin: curation_url_planted — the COMPOSED
#     curate(url_col=) chain: URL dedup as the FIRST stage, url_keep
#     ANDed into the quality gate (the c4_keep pattern).  The 18c
#     planted corpus gains a url column: roles 5 and 6 of each 10-doc
#     group carry two raw VARIANTS of the same page URL (tracking
#     param vs shouty-scheme + www + trailing slash — both canonicalize
#     to http://site<g>.com/p), everyone else NULL.  Roles 5/6 have
#     UNIQUE filler text, so no content stage can catch the pair — only
#     URL dedup drops role 6 (min doc_id 10g+5 wins).  Closed-form per
#     role: url_keep=0 iff role 6; quality_ok=0 for roles 4 (length)
#     and 6 (url gate, hierarchically in dropped_quality); kept for
#     roles 0,5,7,8,9 (role 3 exact-dup, roles 1,2 near-dup — the 18c
#     outcomes, unchanged by the url stage).  Any regression in
#     canonicalization, composite-key winner selection, the gate
#     AND-in, or stage ordering flips the hash.  LOCAL_TWINS (driver
#     registry at its 50-row cap). ---
def q_curation_url_planted(spark, sf_dir):
    from cl_readability_spark.functions.curation import curate

    corpus = _curation_planted_corpus(spark, sf_dir)
    role = F.pmod(F.col("doc_id"), F.lit(10))
    g = (F.col("doc_id") / 10).cast("long").cast("string")
    url = (
        F.when(
            role == 5,
            F.concat(F.lit("http://site"), g, F.lit(".com/p?utm_source=x")),
        )
        .when(
            role == 6,
            F.concat(F.lit("HTTP://WWW.site"), g, F.lit(".com/p/")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    # pin_stages=True + local_checkpoint mode (r9): plan-size bound +
    # no-release materialization — see the curation_line twin note.
    curated = curate(
        corpus.withColumn("url", url),
        text_col="text", key_cols=("doc_id",), policy="clusters",
        materialize="local_checkpoint", minhash_carry="arrays",
        url_col="url", pin_stages=True,
        stage_pin_mode="local_checkpoint",
    )
    return curated.select(
        "doc_id",
        "canon_url",
        F.col("url_keep").cast("int").alias("url_keep"),
        F.col("quality_ok").cast("int").alias("quality_ok"),
        F.col("kept").cast("int").alias("kept"),
    )


SQL_CURATION_URL_PLANTED = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN doc_id % 10 IN (5, 6)
            THEN 'http://site' || CAST(doc_id // 10 AS VARCHAR) || '.com/p'
            ELSE NULL END AS canon_url,
       CAST(doc_id % 10 != 6 AS INTEGER)                  AS url_keep,
       CAST(doc_id % 10 NOT IN (4, 6) AS INTEGER)         AS quality_ok,
       CAST(doc_id % 10 IN (0, 5, 7, 8, 9) AS INTEGER)    AS kept
FROM documents
"""


# --- LOCAL twin: domain_gate_planted — per-host quality aggregation +
#     domain-level gating (functions/urls.py domain_stats/domain_gate,
#     the RefinedWeb-style site filter).  Planted: host site<h>.com
#     (h = doc_id%5, shouty WWW.Site<h>.COM variant to exercise
#     case/www folding), kept iff (doc_id%25)//5 <= h (per-host kept
#     fractions step ~0.2/0.4/0.6/0.8/1.0), plus NULL-url and bare-path
#     rows (no host — excluded from stats, kept by the gate).  The
#     oracle re-derives EVERYTHING generically in DuckDB: host
#     extraction (authority regex + userinfo/port strip + lower + www
#     strip), the per-host GROUP BY with double kept_frac, the
#     min_docs>=2 / kept_frac<0.5 condemnation, and the LEFT JOIN gate
#     — any drift in folding, aggregation, thresholds, or the
#     NULL-host keep stance flips the hash.  LOCAL_TWINS (driver
#     registry at its 50-row cap). ---
def q_domain_gate_planted(spark, sf_dir):
    from cl_readability_spark.functions.urls import domain_gate, domain_stats

    d = F.col("doc_id")
    h = (d % 5).cast("string")
    raw = (
        F.when(d % 23 == 0, F.lit(None).cast("string"))
        .when(d % 23 == 1, F.lit("just/a/path"))
        .otherwise(
            F.concat(
                F.lit("http://WWW.Site"), h, F.lit(".COM/p/"),
                d.cast("string"),
            )
        )
    )
    docs = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .withColumn("url", raw)
        .withColumn("kept", ((F.col("doc_id") % 25) / 5).cast("long")
                    <= F.col("doc_id") % 5)
    )
    stats = domain_stats(docs, keep_col="kept")
    out = domain_gate(docs, stats=stats, min_kept_frac=0.5, min_docs=2)
    return out.select(
        "doc_id",
        F.when(F.col("host") == "", F.lit(None).cast("string"))
        .otherwise(F.col("host")).alias("host"),
        F.col("domain_keep").cast("int").alias("domain_keep"),
    )


SQL_DOMAIN_GATE_PLANTED = r"""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 0 THEN NULL
              WHEN doc_id % 23 = 1 THEN 'just/a/path'
              ELSE 'http://WWW.Site' || doc_id % 5 || '.COM/p/' || doc_id
         END AS url,
         (doc_id % 25) // 5 <= doc_id % 5 AS kept
  FROM documents
),
hosted AS (
  SELECT doc_id, kept,
         -- url_host contract: authority -> strip userinfo -> strip port
         -- -> lower -> strip ONE leading www. when a dot remains
         CASE WHEN h0 IS NULL OR h0 = '' THEN NULL
              WHEN h0 LIKE 'www.%'
                   AND POSITION('.' IN SUBSTR(h0, 5)) > 0
              THEN SUBSTR(h0, 5)
              ELSE h0 END AS host
  FROM (
    SELECT doc_id, kept,
           LOWER(REGEXP_REPLACE(REGEXP_REPLACE(
             REGEXP_EXTRACT(TRIM(url),
                            '^(?:[^:/?#]+:)?//([^/?#]*)', 1),
             '^[^@]*@', ''), ':[0-9]*$', '')) AS h0
    FROM raw
  )
),
condemned AS (
  SELECT host FROM hosted
  WHERE host IS NOT NULL
  GROUP BY host
  HAVING COUNT(*) >= 2
     AND SUM(CAST(kept AS DOUBLE)) / COUNT(*) < 0.5
)
SELECT CAST(h.doc_id AS BIGINT) AS doc_id,
       h.host,
       CAST(c.host IS NULL AS INTEGER) AS domain_keep
FROM hosted h LEFT JOIN condemned c USING (host)
"""


# --- LOCAL twin: tfidf_topk — per-document top-k salient terms
#     (functions/keywords.py).  The oracle re-derives tf (occurrence
#     counts per doc), df (DOCUMENT counts via COUNT(DISTINCT doc_id)
#     — the engine gets the same number from the array_distinct
#     explode), the smoothed sklearn idf ln((1+N)/(1+df))+1 with N =
#     ALL corpus rows (incl. blank/null docs — docs.count() parity),
#     and the (tfidf DESC, word ASC) rank.  Scores hash-checked at
#     x10k fixed point (the cosine-twin convention).  LOCAL_TWINS
#     (driver registry at its 50-row cap). ---
def q_tfidf_topk(spark, sf_dir):
    from cl_readability_spark.functions.keywords import tfidf_topk

    out = tfidf_topk(
        _docs(spark, sf_dir).select("doc_id", "text"),
        k=3,
        strategy="broadcast",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "word",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(F.col("tfidf") * 10000, 0).cast("long").alias("tfidf_x10k"),
        F.col("term_rank").cast("int").alias("term_rank"),
    )


SQL_TFIDF_TOPK = r"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\f\r]+'))
           AS word
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word
),
dfx AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word
),
n AS (SELECT COUNT(*) AS n FROM documents),
s AS (
  SELECT tf.doc_id, tf.word, tf.tf, dfx.df,
         tf.tf * (ln((1.0 + n.n) / (1.0 + dfx.df)) + 1.0) AS tfidf
  FROM tf JOIN dfx USING (word) CROSS JOIN n
),
r AS (
  SELECT s.*,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, word ASC
         ) AS term_rank
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, word,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(round(tfidf * 10000) AS BIGINT) AS tfidf_x10k,
       CAST(term_rank AS INTEGER) AS term_rank
FROM r WHERE term_rank <= 3
"""


# DuckDB-parity twins enforced ONLY by the local rehearsal
# (tests/test_queries_oracle.py) — NOT registered in the driver's
# queries(): the 50-entry driver cap is full and every remaining row is
# load-bearing.  Round 8 holds the four rotated-out relational twins
# plus the four round-7 LOCAL twins not yet promoted — all rotate
# through the driver registry in round 9.  Same (builder, sql) contract
# as SQL_TWINS.
LOCAL_TWINS: dict[str, tuple] = {
    "repetition_score": (q_repetition_score, SQL_REPETITION_SCORE),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_customers": (q_top_customers, SQL_TOP_CUSTOMERS),
    "regional_customers": (q_regional_customers, SQL_REGIONAL_CUSTOMERS),
    "user_event_seq": (q_user_event_seq, SQL_USER_EVENT_SEQ),
    "dedup_weights_planted": (
        q_dedup_weights_planted,
        SQL_DEDUP_WEIGHTS_PLANTED,
    ),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "semantic_decontam": (q_semantic_decontam, SQL_SEMANTIC_DECONTAM),
    "bpe_word_counts": (q_bpe_word_counts, SQL_BPE_WORD_COUNTS),
    "incremental_exact": (q_incremental_exact, SQL_INCREMENTAL_EXACT),
    "ingest_planted": (q_ingest_planted, SQL_INGEST_PLANTED),
    "epoch_shuffle": (q_epoch_shuffle, SQL_EPOCH_SHUFFLE),
    "token_budget": (q_token_budget, SQL_TOKEN_BUDGET),
    "ngram_top": (q_ngram_top, SQL_NGRAM_TOP),
    "rank_buckets": (q_rank_buckets, SQL_RANK_BUCKETS),
    "url_dedup_planted": (q_url_dedup_planted, SQL_URL_DEDUP_PLANTED),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    # retired from the driver registry mid-round-8 to fund the two new
    # composed twins (see the SQL_TWINS note) — still rehearsed here
    "c4_planted": (q_c4_planted, SQL_C4_PLANTED),
    "substring_dedup_planted": (
        q_substring_dedup_planted,
        SQL_SUBSTRING_DEDUP_PLANTED,
    ),
}

# the two new round-8 composed twins take the freed driver slots
SQL_TWINS.update(
    {
        "curation_url_planted": (
            q_curation_url_planted,
            SQL_CURATION_URL_PLANTED,
        ),
        "domain_gate_planted": (
            q_domain_gate_planted,
            SQL_DOMAIN_GATE_PLANTED,
        ),
    }
)


# --- LOCAL twin: sft_planted — SFT training-example assembly
#     (functions/sft.py:sft_examples) re-derived GENERICALLY in DuckDB.
#     Both engines build the SAME 6-turn transcript corpus closed-form
#     from documents (roles user/assistant/user/assistant/tool/
#     assistant, text = the doc's text, so per-turn token counts vary
#     10-99); the SQL recomputes the maximal-fitting-suffix selection
#     from first principles — window cumsum + the inclusive
#     cum0[j] >= cum0[p] - budget membership predicate as a self-join —
#     and the rendered context via ordered string_agg, so any
#     divergence in the suffix boundary, token counting, truncation
#     flag, or byte-level rendering breaks the hash.  Budget 60 vs the
#     ~54-token median turn gives signal on every path: idx-1 targets
#     split into kept-full vs dropped-entirely (first turn alone over
#     budget ⇒ zero context ⇒ min_context_turns drops it), idx-3/5
#     targets mostly truncate to a proper suffix with varying
#     n_context_turns.  LOCAL_TWINS (driver registry at its 50-row
#     cap; round-9 rotation candidate). ---
def q_sft_planted(spark, sf_dir):
    from cl_readability_spark.functions.sft import sft_examples

    doc = F.col("doc_id")
    pos = (doc % 6).cast("int")
    role = F.element_at(
        F.array(
            F.lit("user"),
            F.lit("assistant"),
            F.lit("user"),
            F.lit("assistant"),
            F.lit("tool"),
            F.lit("assistant"),
        ),
        pos + 1,
    )
    tr = _docs(spark, sf_dir).select(
        F.floor(doc / 6).cast("long").cast("string").alias("conv_id"),
        pos.cast("long").alias("turn_idx"),
        role.alias("role"),
        F.col("text").alias("text"),
    )
    return sft_examples(tr, max_context_tokens=60)


SQL_SFT_PLANTED = """
WITH t AS (
  SELECT CAST(doc_id // 6 AS VARCHAR) AS conv_id,
         CAST(doc_id % 6 AS BIGINT) AS turn_idx,
         (['user','assistant','user','assistant','tool','assistant'])
           [CAST(doc_id % 6 AS INTEGER) + 1] AS role,
         text,
         CAST(length(regexp_extract_all(text, '[^ \t\n\f\r]+'))
              AS BIGINT) AS toks
  FROM documents
),
c AS (
  SELECT *, sum(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
p AS (
  SELECT g.conv_id, g.turn_idx AS target_idx, g.text AS target_text,
         g.toks AS target_tokens,
         x.turn_idx AS ctx_idx, x.toks AS ctx_toks,
         x.role || ': ' || x.text AS ctx_line
  FROM c g JOIN c x
    ON x.conv_id = g.conv_id AND x.turn_idx < g.turn_idx
   AND x.cum - x.toks >= g.cum - g.toks - 60
  WHERE g.role = 'assistant'
)
SELECT conv_id,
       target_idx,
       MIN(ctx_idx) AS context_start_idx,
       CAST(COUNT(*) AS BIGINT) AS n_context_turns,
       CAST(SUM(ctx_toks) AS BIGINT) AS context_tokens,
       CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
       MIN(ctx_idx) > 0 AS truncated,
       string_agg(ctx_line, chr(10) ORDER BY ctx_idx) AS context_text,
       MAX(target_text) AS target_text
FROM p
GROUP BY conv_id, target_idx
"""


# --- LOCAL twin: split_leak_planted — cross-split leakage audit
#     (functions/decontam.py:split_leakage, exact mode) over a planted
#     corpus covering every semantic class: a train→test exact copy
#     (doc_id%20=0), a train→val copy (%20=5), a train row copied into
#     BOTH protected splits (%20=12 ⇒ leaks_into 'test,val'), a
#     val→test copy that must NOT flag (protected↔protected), and a
#     train→train copy that must NOT flag (no protected match).  The
#     twin is generic: the SQL recomputes the normalized md5
#     fingerprint, the protected-side aggregate, and the join from
#     scratch, so incidental text collisions in the synthetic corpus
#     are handled identically by construction.  LOCAL_TWINS (driver
#     registry at its 50-row cap; round-9 rotation candidate). ---
def q_split_leak_planted(spark, sf_dir):
    from cl_readability_spark.functions.decontam import split_leakage

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    doc = F.col("id")
    base = docs.select(
        doc.alias("id"),
        F.when(doc % 10 == 8, "val")
        .when(doc % 10 == 9, "test")
        .otherwise("train")
        .alias("split"),
        "text",
    )

    def _copies(mod, rem, offset, split):
        return docs.filter(doc % mod == rem).select(
            (doc + offset).alias("id"),
            F.lit(split).alias("split"),
            "text",
        )

    corpus = (
        base.unionByName(_copies(20, 0, 100_000, "test"))
        .unionByName(_copies(20, 5, 100_000, "val"))
        .unionByName(_copies(20, 12, 110_000, "val"))
        .unionByName(_copies(20, 12, 120_000, "test"))
        .unionByName(_copies(10, 8, 200_000, "test"))
        .unionByName(_copies(20, 7, 300_000, "train"))
    )
    return split_leakage(corpus, id_col="id")


SQL_SPLIT_LEAK_PLANTED = """
WITH corpus AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 10 = 8 THEN 'val'
              WHEN doc_id % 10 = 9 THEN 'test'
              ELSE 'train' END AS split,
         text
  FROM documents
  UNION ALL SELECT doc_id + 100000, 'test', text FROM documents
    WHERE doc_id % 20 = 0
  UNION ALL SELECT doc_id + 100000, 'val', text FROM documents
    WHERE doc_id % 20 = 5
  UNION ALL SELECT doc_id + 110000, 'val', text FROM documents
    WHERE doc_id % 20 = 12
  UNION ALL SELECT doc_id + 120000, 'test', text FROM documents
    WHERE doc_id % 20 = 12
  UNION ALL SELECT doc_id + 200000, 'test', text FROM documents
    WHERE doc_id % 10 = 8
  UNION ALL SELECT doc_id + 300000, 'train', text FROM documents
    WHERE doc_id % 20 = 7
),
fp AS (
  SELECT id, split,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           AS fingerprint
  FROM corpus
),
prot AS (
  SELECT fingerprint,
         array_to_string(list_sort(list(DISTINCT split)), ',')
           AS leaks_into,
         CAST(count(*) AS BIGINT) AS n_protected_matches
  FROM fp
  WHERE split IN ('val', 'test')
  GROUP BY fingerprint
)
SELECT t.id AS id, t.split AS split, t.fingerprint AS fingerprint,
       p.leaks_into AS leaks_into,
       p.n_protected_matches AS n_protected_matches
FROM fp t JOIN prot p USING (fingerprint)
WHERE t.split NOT IN ('val', 'test')
"""


LOCAL_TWINS.update(
    {
        "sft_planted": (q_sft_planted, SQL_SFT_PLANTED),
        "split_leak_planted": (q_split_leak_planted, SQL_SPLIT_LEAK_PLANTED),
    }
)


# --- LOCAL twin: sft_dataset_planted — the COMPOSED transcript
#     deployment path (functions/sft.py:sft_dataset: assembly →
#     example-fingerprint exact dedup → conversation-level split
#     assignment; conv_gate=False here — the gate has its own
#     conv_flags twin).  Corpus = the sft_planted 6-turn recipe, plus
#     every 9th conversation rewritten to a FIXED per-position text —
#     those ~9 conversations are byte-identical, so their examples
#     collapse to ONE winner each (min conv_id under STRING ordering —
#     '17' < '8' — pinning the lexicographic winner rule in both
#     engines), while the winner's conversation-level split lands it in
#     exactly one split.  The SQL re-derives the whole chain: suffix
#     assembly, md5 example fingerprint, row_number winner, md5-hex
#     split buckets (seed 7).  LOCAL_TWINS (driver registry at its
#     50-row cap; round-9 rotation candidate). ---
def q_sft_dataset_planted(spark, sf_dir):
    from cl_readability_spark.functions.sft import sft_dataset

    doc = F.col("doc_id")
    pos = (doc % 6).cast("int")
    conv = F.floor(doc / 6).cast("long")
    role = F.element_at(
        F.array(
            F.lit("user"),
            F.lit("assistant"),
            F.lit("user"),
            F.lit("assistant"),
            F.lit("tool"),
            F.lit("assistant"),
        ),
        pos + 1,
    )
    text = F.when(
        conv % 9 == 8,
        F.concat(F.lit("dup turn body number "), pos.cast("string")),
    ).otherwise(F.col("text"))
    tr = _docs(spark, sf_dir).select(
        conv.cast("string").alias("conv_id"),
        pos.cast("long").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
    )
    return sft_dataset(
        tr,
        max_context_tokens=60,
        conv_gate=False,
        ts_col=None,
        split_seed=7,
    )


SQL_SFT_DATASET_PLANTED = """
WITH t AS (
  SELECT CAST(doc_id // 6 AS VARCHAR) AS conv_id,
         CAST(doc_id % 6 AS BIGINT) AS turn_idx,
         (['user','assistant','user','assistant','tool','assistant'])
           [CAST(doc_id % 6 AS INTEGER) + 1] AS role,
         CASE WHEN (doc_id // 6) % 9 = 8
              THEN 'dup turn body number ' || CAST(doc_id % 6 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
tk AS (
  SELECT *, CAST(length(regexp_extract_all(text, '[^ \t\n\f\r]+'))
                 AS BIGINT) AS toks
  FROM t
),
c AS (
  SELECT *, sum(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM tk
),
p AS (
  SELECT g.conv_id, g.turn_idx AS target_idx, g.text AS target_text,
         g.toks AS target_tokens,
         x.turn_idx AS ctx_idx, x.toks AS ctx_toks,
         x.role || ': ' || x.text AS ctx_line
  FROM c g JOIN c x
    ON x.conv_id = g.conv_id AND x.turn_idx < g.turn_idx
   AND x.cum - x.toks >= g.cum - g.toks - 60
  WHERE g.role = 'assistant'
),
ex AS (
  SELECT conv_id,
         target_idx,
         MIN(ctx_idx) AS context_start_idx,
         CAST(COUNT(*) AS BIGINT) AS n_context_turns,
         CAST(SUM(ctx_toks) AS BIGINT) AS context_tokens,
         CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
         MIN(ctx_idx) > 0 AS truncated,
         string_agg(ctx_line, chr(10) ORDER BY ctx_idx) AS context_text,
         MAX(target_text) AS target_text
  FROM p
  GROUP BY conv_id, target_idx
),
fp AS (
  SELECT *, md5(context_text || chr(31) || target_text) AS fingerprint
  FROM ex
),
w AS (
  SELECT *, row_number() OVER (PARTITION BY fingerprint
                               ORDER BY conv_id, target_idx) AS rn
  FROM fp
)
SELECT conv_id, target_idx, context_start_idx, n_context_turns,
       context_tokens, target_tokens, truncated, context_text,
       target_text, fingerprint,
       CASE WHEN substr(md5('7' || chr(31) || conv_id), 1, 1)
                 IN ('c', 'd') THEN 'val'
            WHEN substr(md5('7' || chr(31) || conv_id), 1, 1)
                 IN ('e', 'f') THEN 'test'
            ELSE 'train' END AS split
FROM w
WHERE rn = 1
"""


LOCAL_TWINS.update(
    {
        "sft_dataset_planted": (
            q_sft_dataset_planted,
            SQL_SFT_DATASET_PLANTED,
        ),
    }
)
