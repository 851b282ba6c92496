"""Text-analysis operators over the ``documents`` table (SURVEY §2.13;
north-star LLM-data-pipeline surface): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

Everything is JVM-side built-ins (split/regexp/sha2/higher-order array
functions) — a 100 TB corpus never crosses into Python. Each query has an
exact DuckDB oracle mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fold
from ..fold import COMPACTED_BATCH_ID
from ..functions.exact import fround, oracle_fround
from ..sources.tables import artifact_path, build_once, load_table

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

# Marker words per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("de5", "shi4", "le5", "zai4"),  # romanized placeholders
}


def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


# --- token counting: whitespace + BPE-ish regex ---------------------------
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words("text")).cast("long").alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("len_chars"),
    )


ORACLE_TOKEN_COUNT = r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_ish_tokens,
       length(text) AS len_chars
FROM documents
"""


# --- quality scoring: length / stopword / punctuation / uniqueness --------
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = words(F.lower(F.col("text")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(n_uniq.cast("double") / n_tokens, 6).alias("uniq_ratio"),
        F.round(n_punct.cast("double") / F.length("text"), 6).alias("punct_ratio"),
        (
            (F.col("n_chars") >= 100)
            & (n_stop.cast("double") / n_tokens > 0.05)
            & (n_uniq.cast("double") / n_tokens > 0.2)
        ).alias("passes_quality"),
    )


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
ORACLE_QUALITY_SCORE = f"""
WITH t AS (
  SELECT doc_id, text, n_chars,
         string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n_tokens,
         len(list_filter(string_split(lower(text), ' '),
             tk -> list_contains({_STOP_LIST}, tk))) AS n_stop,
         len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_tokens,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       ROUND(CAST(n_uniq AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
       ROUND(CAST(n_punct AS DOUBLE) / length(text), 6) AS punct_ratio,
       (n_chars >= 100
        AND CAST(n_stop AS DOUBLE) / n_tokens > 0.05
        AND CAST(n_uniq AS DOUBLE) / n_tokens > 0.2) AS passes_quality
FROM t
"""


# --- language-ID heuristic (marker-word counts, deterministic argmax) -----
def _marker_count(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = words(F.lower(F.col("text")))
    scores = {lg: _marker_count(toks, ms) for lg, ms in LANG_MARKERS.items()}
    # deterministic argmax: first language (in LANG_MARKERS order) with the
    # maximal score; all-zero scores => 'unknown'
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lg in reversed(list(LANG_MARKERS)):
        pred = F.when(scores[lg] == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.cast("long").alias("marker_hits"),
    )


def _oracle_marker(lang: str) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"tk -> list_contains({lst}, tk)))"
    )


_SCORE_COLS = ",\n         ".join(
    f"{_oracle_marker(lg)} AS s_{lg}" for lg in LANG_MARKERS
)
_BEST = "greatest(" + ", ".join(f"s_{lg}" for lg in LANG_MARKERS) + ")"
_PRED = "CASE WHEN " + _BEST + " = 0 THEN 'unknown' " + " ".join(
    f"WHEN s_{lg} = {_BEST} THEN '{lg}'" for lg in LANG_MARKERS
) + " ELSE 'unknown' END"

ORACLE_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, lang, text,
         {_SCORE_COLS}
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       {_PRED} AS predicted_lang,
       {_BEST} AS marker_hits
FROM t
"""


# --- document fingerprint: sha256 of whitespace-normalized lowercase ------
def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.sha2(normalized_text("text"), 256).alias("fingerprint"),
        F.md5(normalized_text("text")).alias("fingerprint_md5"),
    )


ORACLE_FINGERPRINT = r"""
SELECT doc_id,
       sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint_md5
FROM documents
"""


# --- winnowing fingerprint (rolling hash + window-min selection) ----------
# MOSS-style local fingerprinting: polynomial rolling hash of every token
# 3-gram (in document order), then select the minimum hash in each sliding
# window of W consecutive grams. Any two documents sharing a sufficiently
# long token run are guaranteed to share selected hashes — the classic
# substring-robust fingerprint, entirely JVM-side integer arithmetic
# (portable: the DuckDB oracle replays the identical folds).

HASH_P = 1_000_000_007
HASH_B = 131
WINNOW_W = 4
WINNOW_N = 3


def winnow_fingerprint(col: Column | str, n: int = WINNOW_N, w: int = WINNOW_W) -> Column:
    """array<long> of selected (distinct, sorted) winnowing hashes.

    Both the gram rolling hash and the window minima combine *shifted
    slices* with zip_with — linear in document length. (element_at by
    index inside a lambda re-evaluates the source array per element,
    i.e. O(len^2): the same pitfall shingle_hashes documents.)"""
    toks = words(normalized_text(col))
    codes = F.transform(
        toks,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda a, c: (a * HASH_B + F.ascii(c)) % HASH_P,
        ),
    )
    glen = F.greatest(F.size(codes) - (n - 1), F.lit(0))
    grams = F.slice(codes, 1, glen)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(codes, j + 1, glen),
            lambda acc, c: (acc * HASH_B + c) % HASH_P,
        )
    wlen = F.greatest(F.size(grams) - (w - 1), F.lit(0))
    minima = F.slice(grams, 1, wlen)
    for j in range(1, w):
        minima = F.zip_with(
            minima, F.slice(grams, j + 1, wlen), lambda a, b: F.least(a, b)
        )
    return F.array_sort(F.array_distinct(minima))


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprint("text")
    return docs.select(
        "doc_id",
        F.size(fp).cast("long").alias("n_selected"),
        F.aggregate(fp, F.lit(0).cast("long"), lambda a, x: a + x).alias("fp_sum"),
        F.coalesce(F.array_min(fp), F.lit(-1)).alias("fp_min"),
    )


_O_TOKS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
_O_CODES = (
    f"list_transform({_O_TOKS}, t -> list_reduce("
    f"list_prepend(CAST(0 AS BIGINT), list_transform(string_split(t, ''), "
    f"c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, c) -> (a * {HASH_B} + c) % {HASH_P}))"
)

ORACLE_WINNOW_FINGERPRINT = f"""
WITH c AS (
  SELECT doc_id, {_O_CODES} AS codes FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= {WINNOW_N}
              THEN list_transform(range(1, len(codes) - {WINNOW_N} + 2),
                   i -> ((codes[i] * {HASH_B} + codes[i+1]) % {HASH_P}
                         * {HASH_B} + codes[i+2]) % {HASH_P})
              ELSE [] END AS grams
  FROM c
), m AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= {WINNOW_W}
              THEN list_sort(list_distinct(
                   list_transform(range(1, len(grams) - {WINNOW_W} + 2),
                   j -> list_aggregate(grams[j:j+{WINNOW_W}-1], 'min'))))
              ELSE [] END AS fp
  FROM g
)
SELECT doc_id,
       len(fp) AS n_selected,
       list_reduce(list_prepend(CAST(0 AS BIGINT), fp), (a, x) -> a + x) AS fp_sum,
       COALESCE(list_aggregate(fp, 'min'), -1) AS fp_min
FROM m
"""


# --- TF-IDF-style term salience + top-k terms per document ----------------
# Two-level text aggregation at corpus scale: explode terms once; term
# frequency = groupBy(doc, term); document frequency = groupBy(term)
# (both map-side-combined); salience = tf * (N / df) — the exact-rational
# idf keeps the oracle bit-stable (ln() may differ by 1 ulp between
# engines; swapping in tf*ln(N/df) changes no plan shape, only the
# weighting curve). df is corpus-wide but tiny after aggregation, so the
# final join broadcasts.

TOP_TERMS_PER_DOC = 3


def q_term_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # metadata-only parquet count — cheap at any scale
    terms = docs.select(
        "doc_id", F.explode(words(normalized_text("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df from tf, not from raw terms: tf rows are already distinct
    # (doc, term) pairs, so COUNT(*) == COUNT(DISTINCT doc) — one explode
    # pass, and the second agg reduces ~|corpus| fewer rows; the identical
    # tf exchange in both branches is dedup'd by AQE exchange reuse.
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    salience = F.round(
        F.col("tf") * F.lit(float(n_docs)) / F.col("df"), 6
    ).alias("salience")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("salience"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .select("doc_id", "term", "tf", salience)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TERMS_PER_DOC)
        .select("doc_id", "term", "tf", "salience", F.col("rank").cast("long").alias("rank"))
    )


_O_WORDS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
ORACLE_TERM_SALIENCE = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * n.n_docs / df.df, 6) AS salience
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, salience, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY salience DESC, term ASC
  ) AS rank
  FROM scored
) WHERE rank <= {TOP_TERMS_PER_DOC}
"""


# --- repetition detection (Gopher/MassiveText-style quality signals) ------
# Repetitious text is the strongest single predictor of low-quality web
# documents (Rae et al. 2021, "Scaling Language Models", §A.1.1): measure
# the duplicate-token fraction, the mass of the single most frequent
# token, and the same two signals over token 2-grams. All four are
# row-local (higher-order array functions, no shuffle, whole-stage
# codegen). The per-document mode count is O(len * distinct) — fine for
# web-scale documents (bounded length); for book-length texts switch to
# the explode+groupBy shape of q_term_salience.

REP_TOP_TOKEN_MAX = 0.30  # Gopher: docs with >30% mass in one token fail
REP_DUP_2GRAM_MAX = 0.50


def _mode_count(arr: Column) -> Column:
    """Count of the most frequent element (row-local; NULL for empty)."""
    return F.array_max(
        F.transform(
            F.array_distinct(arr),
            lambda t: F.size(F.filter(arr, lambda x: x == t)),
        )
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = words(F.lower(F.col("text")))
    n_tok = F.size(toks)
    glen = F.greatest(n_tok - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, glen),
        F.slice(toks, 2, glen),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_gram = F.size(grams)
    dup_tok = fround(
        F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tok.cast("double"), 6
    )
    top_tok = fround(_mode_count(toks) / n_tok.cast("double"), 6)
    dup_gram = F.when(
        n_gram > 0,
        fround(
            F.lit(1.0) - F.size(F.array_distinct(grams)) / n_gram.cast("double"),
            6,
        ),
    )
    top_gram = F.when(
        n_gram > 0, fround(_mode_count(grams) / n_gram.cast("double"), 6)
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        top_tok.alias("top_token_frac"),
        dup_gram.alias("dup_2gram_frac"),
        top_gram.alias("top_2gram_frac"),
        (
            (top_tok <= REP_TOP_TOKEN_MAX)
            & F.coalesce(dup_gram <= REP_DUP_2GRAM_MAX, F.lit(True))
        ).alias("passes_repetition"),
    )


_O_LTOKS = "string_split(lower(text), ' ')"
_O_GRAMS = (
    f"list_transform(range(1, len({_O_LTOKS})), "
    f"i -> concat_ws(' ', {_O_LTOKS}[i], {_O_LTOKS}[i+1]))"
)


def _o_mode(arr_sql: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({arr_sql}), "
        f"t -> len(list_filter({arr_sql}, x -> x = t))))"
    )


_O_DUP_TOK = oracle_fround(
    f"1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)", 6
)
_O_TOP_TOK = oracle_fround(
    f"{_o_mode('toks')} / CAST(len(toks) AS DOUBLE)", 6
)
_O_DUP_GRAM = oracle_fround(
    "1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)", 6
)
_O_TOP_GRAM = oracle_fround(
    f"{_o_mode('grams')} / CAST(len(grams) AS DOUBLE)", 6
)

ORACLE_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_O_LTOKS} AS toks, {_O_GRAMS} AS grams FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       {_O_DUP_TOK} AS dup_token_frac,
       {_O_TOP_TOK} AS top_token_frac,
       CASE WHEN len(grams) > 0 THEN {_O_DUP_GRAM} END AS dup_2gram_frac,
       CASE WHEN len(grams) > 0 THEN {_O_TOP_GRAM} END AS top_2gram_frac,
       (({_O_TOP_TOK}) <= {REP_TOP_TOKEN_MAX}
        AND COALESCE(({_O_DUP_GRAM}) <= {REP_DUP_2GRAM_MAX}, TRUE))
         AS passes_repetition
FROM t
"""


# --- bigram fluency: corpus-LM scoring plan shape -------------------------
# The n-gram language-model scoring pipeline (count n-grams over the
# corpus, join the model back to each document, aggregate a per-doc
# score) with the statistic kept in exact integer arithmetic: per-doc
# mean corpus-frequency of its bigrams. A real LM would sum log
# probabilities — same plan, but cross-engine log() is not bit-stable
# (libm vs java.lang.Math last-ulp), so the checked statistic stays
# rational: sum(count)/n is one exact int->double conversion + a single
# IEEE division, identical everywhere.
#
# Scale: the bigram-count table is vocab^2-bounded (MB-scale vs a 100 TB
# corpus) yet too big to assume broadcastable — the join is a shuffle on
# the bigram key, where stop-bigram heavy hitters skew; AQE skew-join
# splits those partitions (enabled in session.py). Map-side partial
# aggregation keeps the count build one narrow shuffle.
def q_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", words(F.lower(F.col("text")))
    )
    # 1-based element_at mirrors DuckDB's 1-based list indexing exactly.
    doc_bigrams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram"),
    )
    counts = doc_bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("corpus_count")
    )
    return (
        doc_bigrams.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_distinct("bigram").alias("distinct_bigrams"),
            F.sum("corpus_count").alias("sum_count"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("distinct_bigrams").cast("long").alias("distinct_bigrams"),
            (
                F.col("sum_count").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("avg_bigram_freq"),
        )
    )


ORACLE_BIGRAM_FLUENCY = """
WITH toksed AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), doc_bigrams AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM toksed
), counts AS (
  SELECT bigram, COUNT(*) AS corpus_count FROM doc_bigrams GROUP BY bigram
)
SELECT d.doc_id,
       COUNT(*) AS n_bigrams,
       COUNT(DISTINCT d.bigram) AS distinct_bigrams,
       CAST(SUM(c.corpus_count) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS avg_bigram_freq
FROM doc_bigrams d JOIN counts c USING (bigram)
GROUP BY d.doc_id
"""


QUERIES = {
    "text_token_count": (q_token_count, ORACLE_TOKEN_COUNT),
    "text_bigram_fluency": (q_bigram_fluency, ORACLE_BIGRAM_FLUENCY),
    "text_repetition": (q_repetition, ORACLE_REPETITION),
    "text_quality_score": (q_quality_score, ORACLE_QUALITY_SCORE),
    "text_lang_id": (q_lang_id, ORACLE_LANG_ID),
    "text_fingerprint": (q_fingerprint, ORACLE_FINGERPRINT),
    "text_winnow_fingerprint": (q_winnow_fingerprint, ORACLE_WINNOW_FINGERPRINT),
    "text_term_salience": (q_term_salience, ORACLE_TERM_SALIENCE),
}


# --- inverted index + conjunctive boolean search ---------------------------
# The retrieval primitives under every corpus search/dedup-audit tool:
# term -> (document frequency, head of the id-sorted posting list), and
# "documents containing ALL query terms". Scale shape: ONE explode pass
# feeds both; the posting head is bounded BEFORE collection by a
# per-term rank window (collect_set of a stop-word's postings would
# materialize an unbounded array per term — the classic skew trap), and
# the boolean search is a broadcast semi-join of the tiny query-term set
# into the posting build, then a doc-level count==k filter: the fact
# side never joins itself and nothing unbounded ever aggregates.
# Everything is integers/strings — hash-exact in DuckDB.

POSTINGS_HEAD = 16
BOOL_QUERY_TERMS = ("dup", "window", "scan")  # rare + common + common


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(words(normalized_text("text"))).alias("term")
    )
    postings = terms.groupBy("term", "doc_id").agg(F.lit(1))
    w = Window.partitionBy("term").orderBy("doc_id")
    return (
        postings.withColumn("rn", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= POSTINGS_HEAD, F.col("doc_id"))
                    )
                ),
                ",",
            ).alias("postings_head"),
        )
    )


ORACLE_INVERTED_INDEX = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({_O_WORDS}) AS term FROM documents
), ranked AS (
  SELECT term, doc_id,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM terms
)
SELECT term,
       COUNT(*) AS df,
       array_to_string(
         array_agg(CASE WHEN rn <= {POSTINGS_HEAD} THEN doc_id END
                   ORDER BY doc_id) FILTER (rn <= {POSTINGS_HEAD}),
         ',') AS postings_head
FROM ranked
GROUP BY term
"""


def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = len(BOOL_QUERY_TERMS)
    terms = docs.select(
        "doc_id", F.explode(words(normalized_text("text"))).alias("term")
    ).where(F.col("term").isin(*BOOL_QUERY_TERMS))
    return (
        terms.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
        .where(F.col("n_hit") == k)
        .select("doc_id", F.lit(k).cast("long").alias("n_terms_matched"))
    )


_BOOL_IN = ", ".join(f"'{t}'" for t in BOOL_QUERY_TERMS)
ORACLE_BOOLEAN_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       CAST({len(BOOL_QUERY_TERMS)} AS BIGINT) AS n_terms_matched
FROM terms
WHERE term IN ({_BOOL_IN})
GROUP BY doc_id
HAVING COUNT(DISTINCT term) = {len(BOOL_QUERY_TERMS)}
"""

QUERIES["text_inverted_index"] = (q_inverted_index, ORACLE_INVERTED_INDEX)
# retired from the registry in r9 (see plans/registry.py:_RETIRED): the
# corpus-scan AND spelling is the ORACLE of `text_search_from_index`,
# so its semantics stay driver-verified every time that entry rotates
QUERIES["text_boolean_search"] = (q_boolean_search, ORACLE_BOOLEAN_SEARCH)


# --- vocab build + document id-encoding ------------------------------------
# The tokenizer-adjacent preprocessing step: assign every term a DENSE id
# ordered by (df DESC, term ASC) — id 0 = most frequent — and encode each
# document as its id sequence. The naive id assignment is one global
# row_number window: a single-task funnel over the whole vocabulary (the
# exact trap the registry-wide plan lint forbids). Distributed dense
# rank instead: tier = floor(log2(df)) is row-local AND order-consistent
# with df DESC (log2 is monotone), so id = rank within tier (a
# PARTITIONED window) + the tier's cumulative offset (a tiny
# tier-count table, offset via an explicit ~60x60 cross join — Cross-
# marked, the lint's allowed scalar shape). Produces ids IDENTICAL to
# the global row_number, which is exactly what the DuckDB oracle runs.

ENC_DOCS_MOD = 5  # encode every 5th doc (the vocab still builds on ALL)


def vocab_ids(terms: DataFrame) -> DataFrame:
    """(doc_id, term) -> (term, df, id): dense frequency-ordered term ids
    with no global window."""
    vocab = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tier = F.floor(F.log2("df")).cast("long")
    vocab = vocab.withColumn("tier", tier)
    sizes = vocab.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    hi = sizes.select(
        F.col("tier").alias("h_tier"), F.col("n").alias("h_n")
    )
    offsets = (
        sizes.crossJoin(hi)
        .where(F.col("h_tier") > F.col("tier"))
        .groupBy("tier")
        .agg(F.sum("h_n").alias("offset"))
    )
    w = Window.partitionBy("tier").orderBy(F.desc("df"), F.asc("term"))
    return (
        vocab.join(F.broadcast(offsets), "tier", "left")
        .withColumn(
            "id",
            (
                F.coalesce("offset", F.lit(0))
                + F.row_number().over(w)
                - 1
            ).cast("long"),
        )
        .select("term", "df", "id")
    )


def q_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.posexplode(words(normalized_text("text"))).alias("pos", "term"),
    )
    vocab = vocab_ids(terms.select("doc_id", "term"))
    # hint-free vocab join (ADVICE r6): the vocabulary grows with the
    # corpus — the whole point of the distributed id assignment — so a
    # forced broadcast would hit the driver at scale; AQE broadcasts it
    # locally while it is small and shuffle-hashes at 100x. Only the
    # ~60-row tier-offset table inside vocab_ids stays hinted.
    enc = (
        terms.where(F.col("doc_id") % ENC_DOCS_MOD == 0)
        .join(vocab.select("term", "id"), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "id"))
                    ),
                    lambda x: x["id"].cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )
    return enc


ORACLE_ENCODE_IDS = f"""
WITH tok AS (
  SELECT doc_id, {_O_WORDS} AS toks FROM documents
), terms AS (
  SELECT doc_id,
         unnest(toks) AS term,
         unnest(range(0, len(toks))) AS pos
  FROM tok
), vocab AS (
  SELECT term,
         CAST(ROW_NUMBER() OVER (
           ORDER BY COUNT(DISTINCT doc_id) DESC, term ASC) - 1 AS BIGINT)
           AS id
  FROM terms GROUP BY term
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       array_to_string(array_agg(v.id ORDER BY t.pos), ',') AS ids
FROM terms t JOIN vocab v USING (term)
WHERE t.doc_id % {ENC_DOCS_MOD} = 0
GROUP BY t.doc_id
"""

QUERIES["text_encode_ids"] = (q_encode_ids, ORACLE_ENCODE_IDS)


# --- boolean retrieval served FROM the stored index ------------------------
# q_boolean_search answers a conjunctive query by re-exploding the whole
# corpus; q_inverted_index builds exactly the structure that answers it.
# This operator closes the loop (VERDICT r6 item 4): the FULL posting
# lists (not just display heads) are written once as a term-keyed
# parquet artifact, and the query is answered by posting-list
# intersection against that artifact — cost proportional to the query
# terms' postings, with the corpus untouched (plan-pinned: no documents
# scan in the search plan).
#
# Representation: postings are (term, doc_id) ROWS, repartitioned by
# term and sorted (term, doc_id) within files — not one array per term.
# Row form is the scale-safe choice: a stop-word's posting list shards
# across row groups instead of materializing one unbounded array cell,
# the IN(term) filter pushes into the parquet scan where sorted-by-term
# row-group min/max stats prune everything else, and intersection is a
# doc_id-grain count over the surviving rows (shuffling only the query
# terms' postings). The artifact is fingerprinted by the absolute sf
# path + documents.parquet (size, mtime) — a regenerated fixture can
# never serve a stale index (the graph_pagerank_bucketed discipline).


# Bump whenever words()/normalized_text() (or the artifact layout)
# changes: the version salts the artifact fingerprint, so a stored
# index built by older tokenization code can never be served against
# newer query code — invalidation is automatic, not manual cleanup.
# v2: scored/incremental postings gained a positions array (phrase
# queries) — a v1 artifact read under the v2 schema would serve NULL
# positions silently.
# v3: incremental index dirs gained a per-doc ``docs/`` artifact
# (doc_id, dl — what delete_index_docs looks deleted lengths up in)
# and an optional ``tombstones/`` dir; a v2 dir lacks ``docs/``, so a
# delete against it would silently find nothing to delete.
# v4 (r11): per-batch term_stats/ bounds artifact added to the
# incremental index layout (write_index_batch writes it, the compaction
# family re-aligns it). The bump is load-bearing in BOTH directions: v3
# code compacting a v4 dir would fold postings without re-aligning
# term_stats (stale bounds -> unsafe pruning), and v4 reading a v3 dir
# would find no bounds at all — the version marker turns both into the
# documented loud-rebuild demand.
# v5 (optimization r16): one-time builders write REBALANCE-sized files
# instead of repartition(spark.sql.shuffle.partitions, key) — content
# and schema identical, but the bump makes every environment rebuild
# once so on-disk artifacts match the recorded write plans.
INDEX_FORMAT_VERSION = 5


def posting_index_path(spark: SparkSession, sf_dir: str) -> str:
    return artifact_path(
        spark, sf_dir, "documents.parquet", "text_postings",
        INDEX_FORMAT_VERSION,
    )


def build_posting_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time (per fixture identity) build of the full posting-list
    artifact; returns its path (build_once: reused while intact)."""

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        postings = (
            docs.select(
                "doc_id",
                F.explode(words(normalized_text("text"))).alias("term"),
            )
            .dropDuplicates(["term", "doc_id"])
        )
        (
            # REBALANCE, not repartition(shuffle.partitions, ...): the
            # hint keeps term-hashed clustering while AQE sizes the
            # output files to the advisory partition size — scale-
            # adaptive (fixture builds coalesce to O(1) files, a 100 TB
            # build lands in the 128 MB-1 GB band, and skewed term
            # buckets split) instead of a constant tuned to the local
            # core count (guide §6, optimization r16; applied to every
            # one-time index builder).
            postings.hint("rebalance", "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )

    return build_once(posting_index_path(spark, sf_dir), build)


def all_hits_over_postings(postings: DataFrame) -> DataFrame:
    """Conjunctive (AND) retrieval over (term, doc_id[, ...]) posting
    rows — the SINGLE definition of the connective, shared by the
    one-pass artifact and the incrementally maintained one (requires
    (term, doc_id) unique, which both guarantee)."""
    k = len(BOOL_QUERY_TERMS)
    return (
        postings.where(F.col("term").isin(*BOOL_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
        .where(F.col("n_hit") == k)
        .select("doc_id", F.lit(k).cast("long").alias("n_terms_matched"))
    )


def q_search_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_posting_index(spark, sf_dir)
    return all_hits_over_postings(spark.read.parquet(path))


# same semantics as the corpus-scan spelling — the oracle IS that form
QUERIES["text_search_from_index"] = (q_search_from_index, ORACLE_BOOLEAN_SEARCH)


# --- disjunctive (OR) and negated (AND NOT) retrieval from the index -------
# Completes the boolean algebra over the stored posting-list artifact
# (VERDICT r7 item 3): AND is posting intersection (above), OR is the
# postings union with a per-doc matched-term count (the same pushed
# IN(term) scan — a doc qualifies with n_hit >= 1), and NOT is an
# ANTI-JOIN on the excluded term's postings — never a corpus scan, and
# never "all docs minus matches" (the complement is corpus-sized; the
# anti join touches only the positive candidates and the excluded
# term's posting list). Query cost stays ∝ the query terms' postings
# for all three connectives; oracles are corpus-scan spellings, so the
# driver proves the artifact algebra equals direct evaluation.

ANY_QUERY_TERMS = BOOL_QUERY_TERMS  # ("dup", "window", "scan")
EXCL_INCLUDE_TERMS = ("window", "scan")
EXCL_EXCLUDE_TERM = "dup"


def any_hits_over_postings(postings: DataFrame) -> DataFrame:
    """Disjunctive (OR) retrieval — same single-definition discipline."""
    return (
        postings.where(F.col("term").isin(*ANY_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("n_terms_matched"))
    )


def q_search_any_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_posting_index(spark, sf_dir)
    return any_hits_over_postings(spark.read.parquet(path))


ORACLE_ANY_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id, COUNT(DISTINCT term) AS n_terms_matched
FROM terms
WHERE term IN ({_BOOL_IN})
GROUP BY doc_id
"""


def exclude_hits_over_postings(postings: DataFrame) -> DataFrame:
    """AND-NOT retrieval: conjunction of the include terms, anti-joined
    on the excluded term's postings — same single-definition
    discipline."""
    k = len(EXCL_INCLUDE_TERMS)
    pos = (
        postings.where(F.col("term").isin(*EXCL_INCLUDE_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
        .where(F.col("n_hit") == k)
    )
    neg = postings.where(F.col("term") == EXCL_EXCLUDE_TERM).select("doc_id")
    return pos.join(neg, "doc_id", "left_anti").select(
        "doc_id", F.lit(k).cast("long").alias("n_terms_matched")
    )


def q_search_exclude_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_posting_index(spark, sf_dir)
    return exclude_hits_over_postings(spark.read.parquet(path))


_EXCL_IN = ", ".join(f"'{t}'" for t in EXCL_INCLUDE_TERMS)
ORACLE_EXCLUDE_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
), hits AS (
  SELECT doc_id FROM terms
  WHERE term IN ({_EXCL_IN})
  GROUP BY doc_id
  HAVING COUNT(DISTINCT term) = {len(EXCL_INCLUDE_TERMS)}
)
SELECT doc_id,
       CAST({len(EXCL_INCLUDE_TERMS)} AS BIGINT) AS n_terms_matched
FROM hits h
WHERE NOT EXISTS (
  SELECT 1 FROM terms t
  WHERE t.doc_id = h.doc_id AND t.term = '{EXCL_EXCLUDE_TERM}'
)
"""

QUERIES["text_search_any_from_index"] = (q_search_any_from_index, ORACLE_ANY_SEARCH)
QUERIES["text_search_exclude_from_index"] = (
    q_search_exclude_from_index,
    ORACLE_EXCLUDE_SEARCH,
)


# --- prefix (trailing-wildcard) retrieval from the index -------------------
# ``s*``: every vocabulary term sharing the prefix, per doc the distinct
# matching terms and their total occurrences. The prefix predicate is a
# StringStartsWith pushed into the postings scan — and because the
# stored postings are term-sorted within files, parquet min/max stats
# prune row groups outside the prefix range, so cost ∝ the prefix's
# slice of the vocabulary, never the corpus. (Leading wildcards would
# need a reversed-term index — the standard dual artifact; out of
# scope.) Subsumes the retired corpus-scan `text_boolean_search` slot:
# conjunctive retrieval stays covered by `text_search_from_index`
# against the SAME oracle.

PREFIX_QUERY = "s"


def prefix_hits_over_postings(postings: DataFrame) -> DataFrame:
    """Prefix retrieval — same single-definition discipline as the
    other connectives (requires (term, doc_id) unique with per-doc tf,
    which the scored and incremental postings both guarantee)."""
    return (
        postings.where(F.col("term").startswith(PREFIX_QUERY))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").cast("long").alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
        )
    )


def q_search_prefix_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = build_scored_index(spark, sf_dir)
    return prefix_hits_over_postings(
        spark.read.parquet(os.path.join(root, INDEX_POSTINGS))
    )


ORACLE_PREFIX_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       COUNT(DISTINCT term) AS n_terms_matched,
       COUNT(*) AS total_tf
FROM terms
WHERE term LIKE '{PREFIX_QUERY}%'
GROUP BY doc_id
"""

QUERIES["text_search_prefix_from_index"] = (
    q_search_prefix_from_index,
    ORACLE_PREFIX_SEARCH,
)


# --- suffix (leading-wildcard) retrieval: the reversed-term dual ----------
# ``*g``: a leading wildcard cannot range-prune term-sorted postings
# (every row group may hold a matching term), so the standard dual
# artifact serves it: postings re-keyed by REVERSE(term), re-sorted —
# the suffix query becomes a PREFIX query on rterm, the same pushed
# StringStartsWith + row-group range prune, cost ∝ the suffix's slice
# of the vocabulary. The dual DERIVES from the stored postings (one
# postings-sized rewrite at build time — never a second corpus pass)
# in its own fixture dir. Registered (r10) as
# text_search_suffix_from_index, slot funded by retiring
# sql_excess_shipments per plans/registry.py's policy; the corpus-scan
# equivalence is also machine-pinned in tests/test_plans.py.

SUFFIX_QUERY = "g"
INDEX_POSTINGS_REV = "postings_rev"


def reversed_index_path(spark: SparkSession, sf_dir: str) -> str:
    return posting_index_path(spark, sf_dir) + "_rev"


def build_reversed_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time (per fixture identity) build of the reversed-term dual:
    (rterm, doc_id, tf) re-sorted by rterm. Derived from the scored
    postings artifact — positions/dl are not carried (the dual serves
    term-set lookups; scoring stays with the primary)."""
    import os

    def build(root: str) -> None:
        primary = build_scored_index(spark, sf_dir)
        postings = spark.read.parquet(os.path.join(primary, INDEX_POSTINGS))
        (
            postings.select(
                F.reverse(F.col("term")).alias("rterm"), "doc_id", "tf"
            )
            .hint("rebalance", "rterm")  # AQE-sized files (guide §6, r16)
            .sortWithinPartitions("rterm", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(root, INDEX_POSTINGS_REV))
        )

    return build_once(reversed_index_path(spark, sf_dir), build)


def _suffix_agg(hits: DataFrame, rpats: list[str]) -> DataFrame:
    """Per-doc qualification over (rterm, doc_id, tf) hit rows: distinct
    matching terms + total occurrences, AND across patterns via
    per-pattern conditional MAX flags on the one aggregate. A single
    pattern keeps the flag-free plan."""
    grouped = hits.groupBy("doc_id")
    if len(rpats) == 1:
        return grouped.agg(
            F.countDistinct("rterm").cast("long").alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
        )
    out = grouped.agg(
        F.countDistinct("rterm").cast("long").alias("n_terms_matched"),
        F.sum("tf").alias("total_tf"),
        *[
            F.max(
                F.when(F.col("rterm").startswith(p), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias(f"_m{i}")
            for i, p in enumerate(rpats)
        ],
    )
    every = F.col("_m0") == 1
    for i in range(1, len(rpats)):
        every = every & (F.col(f"_m{i}") == 1)
    return out.where(every).select("doc_id", "n_terms_matched", "total_tf")


def suffix_hits_over_reversed(
    postings_rev: DataFrame, suffixes=(SUFFIX_QUERY,)
) -> DataFrame:
    """Suffix retrieval over the reversed dual — per doc the distinct
    matching terms and their total occurrences (COUNT DISTINCT of
    rterm == of term: string reversal is a bijection). Multi-suffix
    (r11): ``suffixes`` is the AND-form the boolean path already has —
    a doc qualifies only if EVERY suffix pattern matched at least one
    of its terms (per-pattern conditional MAX flags on the same
    aggregate, no extra pass); the scan is one pushed
    Or(StringStartsWith...) over the same rterm-sorted artifact, cost
    ∝ the union of the suffixes' vocabulary slices. A single suffix
    keeps the exact single-pattern plan (no flag columns)."""
    rpats = [s[::-1] for s in suffixes]
    cond = F.col("rterm").startswith(rpats[0])
    for p in rpats[1:]:
        cond = cond | F.col("rterm").startswith(p)
    return _suffix_agg(postings_rev.where(cond), rpats)


def q_search_suffix_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = build_reversed_index(spark, sf_dir)
    return suffix_hits_over_reversed(
        spark.read.parquet(os.path.join(root, INDEX_POSTINGS_REV))
    )


# corpus-scan spelling (identical shape to ORACLE_PREFIX_SEARCH)
ORACLE_SUFFIX_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       COUNT(DISTINCT term) AS n_terms_matched,
       COUNT(*) AS total_tf
FROM terms
WHERE term LIKE '%{SUFFIX_QUERY}'
GROUP BY doc_id
"""

QUERIES["text_search_suffix_from_index"] = (
    q_search_suffix_from_index,
    ORACLE_SUFFIX_SEARCH,
)


# Multi-suffix AND form (r11; registration earmarked for the r12
# rotation — the r11 prefix budget is spent, and an unfronted registry
# entry would sit never-checked): docs containing a term ending in
# EVERY one of the suffixes. Same dual, same pushed scan.
MULTI_SUFFIX_QUERY = ("g", "er")


def q_search_multi_suffix_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    root = build_reversed_index(spark, sf_dir)
    return suffix_hits_over_reversed(
        spark.read.parquet(os.path.join(root, INDEX_POSTINGS_REV)),
        MULTI_SUFFIX_QUERY,
    )


def _suffix_like(col: str, s: str) -> str:
    return f"{col} LIKE '%{s}'"


ORACLE_MULTI_SUFFIX_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       COUNT(DISTINCT term) AS n_terms_matched,
       COUNT(*) AS total_tf
FROM terms
WHERE {" OR ".join(_suffix_like("term", s) for s in MULTI_SUFFIX_QUERY)}
GROUP BY doc_id
HAVING {" AND ".join(
    f"MAX(CASE WHEN {_suffix_like('term', s)} THEN 1 ELSE 0 END) = 1"
    for s in MULTI_SUFFIX_QUERY
)}
"""

# registered r12 per the recorded rotation plan (plans/registry.py) —
# slot funded by retiring sql_profit_by_nation (oracle lives on under
# agg_profit_by_nation_1scan)
QUERIES["text_search_multi_suffix_from_index"] = (
    q_search_multi_suffix_from_index,
    ORACLE_MULTI_SUFFIX_SEARCH,
)


# --- fuzzy (edit-distance-1) retrieval: the deletion-neighborhood dual -----
# A misspelled query term ("sart") must still find its docs. Scanning
# the vocabulary with a per-term edit-distance check is O(|vocab|) per
# query — the index answer is the SymSpell discipline (public
# algorithm): store each vocabulary term under every string obtainable
# by deleting ONE character (plus itself). Any term within Levenshtein
# distance 1 of the query then shares a stored variant with one of the
# query's own deletion variants (equal: trivially; one deletion /
# insertion: the shorter IS a variant of the longer; substitution:
# deleting the differing position from both yields the same string) —
# so the candidate lookup is a pushed IN(variant) probe of the dual,
# cost ∝ the query's |q|+1 variant buckets, never the vocabulary. The
# deletion-neighborhood is a SUPERSET of distance-1 (it also catches
# e.g. transpositions at distance 2), so candidates pass an exact
# levenshtein verify before touching the postings. Registered (r10) as
# text_search_fuzzy_from_index, slot funded by retiring graph_pagerank
# (oracle shared with graph_pagerank_bucketed per plans/registry.py's
# policy); the corpus-scan equivalence is also machine-pinned in
# tests/test_plans.py.

FUZZY_QUERY = "sart"  # not itself a vocabulary word: a true typo
INDEX_FUZZY = "fuzzy"


def fuzzy_index_path(spark: SparkSession, sf_dir: str) -> str:
    return posting_index_path(spark, sf_dir) + "_fuzzy"


def build_fuzzy_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time (per fixture identity) build of the deletion-
    neighborhood dual: (variant, term) for every vocabulary term and
    each of its single-character deletions (plus the term itself),
    variant-sorted. Derived from the scored postings' vocabulary —
    never a second corpus pass. Size ∝ vocab x (avg term length + 1):
    the dual is vocabulary-scale, tiny next to the postings."""
    import os

    def build(root: str) -> None:
        primary = build_scored_index(spark, sf_dir)
        vocab = (
            spark.read.parquet(os.path.join(primary, INDEX_POSTINGS))
            .select("term")
            .distinct()
        )
        (
            vocab.select(
                "term", F.explode(F.expr(_VARIANTS_SQL)).alias("variant")
            )
            .distinct()
            .hint("rebalance", "variant")  # AQE-sized files (§6, r16)
            .sortWithinPartitions("variant", "term")
            .write.mode("overwrite")
            .parquet(os.path.join(root, INDEX_FUZZY))
        )

    return build_once(fuzzy_index_path(spark, sf_dir), build)


def _deletion_variants(q: str) -> list[str]:
    return [q] + [q[:i] + q[i + 1 :] for i in range(len(q))]


# the Spark-side spelling of _deletion_variants over a `term` column —
# the SINGLE definition shared by the one-pass dual build and the
# incremental dual derive/tail-membership check (two hand-maintained
# copies could silently diverge on the neighborhood)
_VARIANTS_SQL = (
    "array_union(array(term), transform(sequence(1, length(term)), i -> "
    "concat(substring(term, 1, i-1), substring(term, i+1, length(term)))))"
)


def _within_one_edit(a: str, b: str) -> bool:
    """Exact ``levenshtein(a, b) <= 1`` without the general DP: equal,
    one substitution (same length, one differing position), or one
    insertion/deletion (length differs by 1 and the shorter is the
    longer minus one character). Mirrors the DuckDB oracle's
    ``levenshtein(term, q) <= 1`` predicate bit-for-bit."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if abs(la - lb) != 1:
        return False
    s, t = (a, b) if la < lb else (b, a)  # s shorter
    i = 0
    while i < len(s) and s[i] == t[i]:
        i += 1
    return s[i:] == t[i + 1 :]


def _fuzzy_candidates(
    dual: DataFrame, queries: tuple[str, ...]
) -> dict[str, list[str]]:
    """Verified distance-<=1 vocabulary terms per query typo, via ONE
    pushed IN(variant) probe of the dual covering every typo's deletion
    neighborhood (candidate sets may overlap — e.g. two typos of the
    same word — so the probe unions the buckets and the exact
    distance-1 verify fans the collected terms back out per typo).
    Driver-side size: the probed buckets' collisions — bounded tiny,
    the codebook-seed precedent."""
    variants = sorted({v for q in queries for v in _deletion_variants(q)})
    terms = [
        r.term
        for r in dual.where(F.col("variant").isin(variants))
        .select("term")
        .distinct()
        .collect()
    ]
    return {
        q: sorted(t for t in terms if _within_one_edit(t, q))
        for q in queries
    }


def _fuzzy_qualify(
    postings: DataFrame, queries: tuple[str, ...], cand: dict
) -> DataFrame:
    """Per-doc qualification given the verified candidate terms per
    typo: ONE pushed IN(term) postings probe with the candidate union
    as compile-time constants, per-typo AND via conditional MAX flags
    on the same aggregate (single typo keeps the flag-free plan)."""
    agg_cols = (
        F.countDistinct("term").cast("long").alias("n_terms_matched"),
        F.sum("tf").alias("total_tf"),
    )
    if not all(cand.values()):
        # some typo matched nothing: the AND can never hold (and the
        # single-typo form has nothing to scan)
        return (
            postings.where(F.lit(False)).groupBy("doc_id").agg(*agg_cols)
        )
    all_terms = sorted({t for ts in cand.values() for t in ts})
    matched = postings.where(F.col("term").isin(all_terms))
    if len(queries) == 1:
        return matched.groupBy("doc_id").agg(*agg_cols)
    out = matched.groupBy("doc_id").agg(
        *agg_cols,
        *[
            F.max(
                F.when(F.col("term").isin(cand[q]), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias(f"_m{i}")
            for i, q in enumerate(queries)
        ],
    )
    every = F.col("_m0") == 1
    for i in range(1, len(queries)):
        every = every & (F.col(f"_m{i}") == 1)
    return out.where(every).select("doc_id", "n_terms_matched", "total_tf")


def fuzzy_hits_from_index(
    spark: SparkSession, sf_dir: str, queries: tuple[str, ...]
) -> DataFrame:
    """Docs fuzzily matching EVERY query typo (AND across typos; a
    single typo is the plain fuzzy query), per doc the distinct
    matching terms + total occurrences. Two-phase, exactly how a
    search service issues it: (1) candidate lookup — ONE pushed
    IN(variant) probe of the dual covering every typo's deletion
    neighborhood, exact distance-1 verify driver-side
    (:func:`_fuzzy_candidates`; bounded tiny — the codebook-seed
    precedent); (2) ONE pushed IN(term) postings probe with the union
    of verified terms as compile-time constants, per-typo qualification
    as conditional MAX flags on the same aggregate — the same plan
    shape as every other from-index connective, and the multi-typo
    form adds no second postings scan."""
    import os

    root = build_fuzzy_index(spark, sf_dir)  # also ensures the primary
    dual = spark.read.parquet(os.path.join(root, INDEX_FUZZY))
    cand = _fuzzy_candidates(dual, queries)
    # path only — build_fuzzy_index above built (or reused) the primary
    # artifact; re-checking it here would walk its tree twice per query
    primary = scored_index_path(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(primary, INDEX_POSTINGS))
    return _fuzzy_qualify(postings, queries, cand)


def q_search_fuzzy_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_hits_from_index(spark, sf_dir, (FUZZY_QUERY,))


# corpus-scan spelling (DuckDB's levenshtein is the exact semantics
# the deletion-neighborhood + verify must reproduce)
ORACLE_FUZZY_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       COUNT(DISTINCT term) AS n_terms_matched,
       COUNT(*) AS total_tf
FROM terms
WHERE levenshtein(term, '{FUZZY_QUERY}') <= 1
GROUP BY doc_id
"""

QUERIES["text_search_fuzzy_from_index"] = (
    q_search_fuzzy_from_index,
    ORACLE_FUZZY_SEARCH,
)


# Multi-typo AND form (r11; registration earmarked for the r12 rotation
# — the r11 prefix budget is spent, and an unfronted registry entry
# would sit never-checked): docs fuzzily matching EVERY typo. Same
# dual, one variant probe, one postings probe.
MULTI_FUZZY_QUERY = ("sart", "winow")

ORACLE_MULTI_FUZZY_SEARCH = f"""
WITH terms AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents
)
SELECT doc_id,
       COUNT(DISTINCT term) AS n_terms_matched,
       COUNT(*) AS total_tf
FROM terms
WHERE {" OR ".join(
    f"levenshtein(term, '{q}') <= 1" for q in MULTI_FUZZY_QUERY
)}
GROUP BY doc_id
HAVING {" AND ".join(
    f"MAX(CASE WHEN levenshtein(term, '{q}') <= 1 THEN 1 ELSE 0 END) = 1"
    for q in MULTI_FUZZY_QUERY
)}
"""


def q_search_multi_fuzzy_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return fuzzy_hits_from_index(spark, sf_dir, MULTI_FUZZY_QUERY)


# registered r12 per the recorded rotation plan (plans/registry.py) —
# slot funded by retiring text_phrase_incremental (oracle shared with
# text_phrase_from_index; the per-batch maintenance machinery stays
# driver-checked via text_bm25_incremental on the same artifacts)
QUERIES["text_search_multi_fuzzy_from_index"] = (
    q_search_multi_fuzzy_from_index,
    ORACLE_MULTI_FUZZY_SEARCH,
)


# --- BM25-scored top-k retrieval ------------------------------------------
# Completes the retrieval arc (index -> boolean -> SCORED ranking): the
# standard Okapi BM25 ranking function (Robertson et al., public
# formula) over the fixed query terms, top-K docs. The LLM-pipeline
# use: scored retrieval for curation and hard-negative mining.
#
# Scale shape: ONE corpus scan, one explode, one doc_id-grain partial-
# aggregated exchange. Because the query terms are a fixed small set,
# per-term tf becomes conditional counts inside the same per-doc
# aggregate that computes document length — no second pass, no
# per-(term, doc) join. The corpus statistics (N, total token count,
# per-term df) collapse to ONE row, broadcast back over the per-doc
# frame; top-K is TakeOrderedAndProject. At 100 TB: scan + one
# exchange of doc_id-grain rows, nothing quadratic, no Python.
#
# Cross-engine determinism: each per-term contribution
#   idf(term) * tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/total))
# is computed from INTEGER inputs (tf, dl, df, N, total) with an
# identical expression tree in both engines, then quantized to integer
# micro-units (ROUND(x * 1e6) AS BIGINT) BEFORE summing — the per-doc
# score is a sum of 3 integers, exact and order-independent (the dsum
# discipline), so the ranking compare is integer-exact. The only
# residual risk is a contribution landing within 1 ULP of a
# 0.5-micro-unit boundary across libm implementations — measure-zero
# on integer-derived inputs, validated by the driver's hash-match.

BM25_K1_NUM, BM25_K1_DEN = 6, 5  # k1 = 1.2, exact rational
BM25_B_NUM, BM25_B_DEN = 3, 4  # b = 0.75, exact rational
BM25_TOPK = 10


def bm25_contrib_micro(
    tf: Column, dl: Column, df: Column, n_docs: Column, total_dl: Column
) -> Column:
    """One term's BM25 contribution in integer micro-units. The SINGLE
    definition of the scoring expression tree — both the direct corpus
    spelling and the stored-index path call this, so their pinned
    integer-exact equivalence is structural, not copy-discipline (the
    quantization boundary depends on the exact double association
    order; two hand-maintained copies could silently diverge)."""
    k1 = F.lit(BM25_K1_NUM) / F.lit(BM25_K1_DEN)
    b = F.lit(BM25_B_NUM) / F.lit(BM25_B_DEN)
    idf = F.log(
        (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
    )
    tf_part = (tf * (k1 + F.lit(1.0))) / (
        tf + k1 * (F.lit(1.0) - b + b * dl * n_docs / total_dl)
    )
    return F.round(idf * tf_part * F.lit(1_000_000), 0).cast("long")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(words(normalized_text("text"))).alias("term")
    )
    terms = list(BOOL_QUERY_TERMS)
    # doc-grain aggregate, consumed twice (corpus stats + scoring):
    # lineage-truncated so the corpus is scanned/exploded exactly once
    # (the agg_top_supplier_revenue discipline — the checkpointed frame
    # is |docs| rows, never the token stream)
    per_doc = (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.count(F.when(F.col("term") == t, F.lit(1))).alias(
                    f"tf_{i}"
                )
                for i, t in enumerate(terms)
            ],
        )
        .localCheckpoint()
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, F.lit(1))).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    def contrib(i: int):
        tf = F.col(f"tf_{i}")
        return F.when(
            tf > 0,
            bm25_contrib_micro(
                tf,
                F.col("dl"),
                F.col(f"df_{i}"),
                F.col("n_docs"),
                F.col("total_dl"),
            ),
        ).otherwise(F.lit(0).cast("long"))

    score = contrib(0)
    for i in range(1, len(terms)):
        score = score + contrib(i)
    hit = F.col("tf_0") > 0
    for i in range(1, len(terms)):
        hit = hit | (F.col(f"tf_{i}") > 0)
    return (
        per_doc.crossJoin(F.broadcast(stats))  # 1-row scalar frame
        .where(hit)
        .select("doc_id", score.alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def _oracle_bm25(where: str = "", terms=None, allowed_sql: str = "") -> str:
    """The corpus-scan BM25 spelling (DuckDB). ``where`` restricts the
    corpus (e.g. the delete query's surviving-docs predicate) — stats,
    df and the ranking all derive from the restricted corpus, exactly
    what a delete-aware index must serve. ``terms`` overrides the query
    (default = the registered fixture query) — the batch/fleet oracle
    composes one instance per query. ``allowed_sql`` is a doc_id
    predicate ANDed into the FINAL selection only — candidates narrow,
    df/stats stay corpus-global (the filtered-serving semantics)."""
    terms = list(BOOL_QUERY_TERMS if terms is None else terms)
    tf_cols = ",\n         ".join(
        f"COUNT(*) FILTER (term = '{t}') AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"COUNT(*) FILTER (tf_{i} > 0) AS df_{i}" for i in range(len(terms))
    )
    k1 = f"{BM25_K1_NUM}/{BM25_K1_DEN}"
    b = f"{BM25_B_NUM}/{BM25_B_DEN}"
    contribs = " + ".join(
        f"""CASE WHEN tf_{i} > 0 THEN CAST(ROUND(
           ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)
           * (tf_{i} * ({k1} + 1.0))
           / (tf_{i} + {k1} * (1.0 - {b} + {b} * dl * n_docs / total_dl))
           * 1000000, 0) AS BIGINT) ELSE 0 END"""
        for i in range(len(terms))
    )
    hit = " OR ".join(f"tf_{i} > 0" for i in range(len(terms)))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_O_WORDS}) AS term FROM documents{where}
), per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
         {tf_cols}
  FROM toks GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl, {df_cols} FROM per_doc
)
SELECT doc_id, {contribs} AS score_micro
FROM per_doc CROSS JOIN stats
WHERE ({hit}){" AND (" + allowed_sql + ")" if allowed_sql else ""}
ORDER BY score_micro DESC, doc_id ASC
LIMIT {BM25_TOPK}
"""


QUERIES["text_bm25_topk"] = (q_bm25_topk, _oracle_bm25())


# --- BM25 served FROM a stored scored index --------------------------------
# The production search-service shape: the corpus pass is paid ONCE at
# index-build time, and a query touches only its own terms' postings.
# The artifact denormalizes everything scoring needs into the posting
# row — (term, doc_id, tf, dl) — plus a 1-row corpus-stats table
# (n_docs, total_dl); per-term df needs no stored column at all because
# the FULL posting lists are stored: df = the count of retrieved
# postings per query term. Query cost: a pushed-IN postings scan
# (term-sorted row groups prune), a tiny per-term df aggregate
# broadcast back, per-row integer-microunit contributions, one doc_id
# sum, TakeOrderedAndProject. Same quantized formula, same oracle as
# q_bm25_topk (the corpus-scan spelling) — the driver proves the
# artifact path equals the direct computation.

def scored_index_path(spark: SparkSession, sf_dir: str) -> str:
    return posting_index_path(spark, sf_dir) + "_scored"


def batch_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> the BM25-ready posting rows (term, doc_id, tf,
    dl, positions) for exactly those documents — the SINGLE definition
    of the posting derivation, shared by the one-pass build, the
    per-batch incremental maintenance, and the ingest loop (two
    hand-maintained copies could silently diverge on tokenization).
    ``positions`` is the sorted 0-based token offsets of the term in
    the doc (tf = its size) — doc-local like tf and dl, so the
    incremental per-batch invariant is untouched; it is the standard
    postings payload that serves PHRASE queries (adjacency checks)
    from the same artifact that serves boolean and BM25."""
    toks = docs.select(
        "doc_id",
        F.posexplode(words(normalized_text("text"))).alias("pos", "term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )
    return tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))


def write_scored_index(docs: DataFrame, root: str) -> None:
    """Write the BM25-ready artifact for a docs frame under ``root``:
    ``postings/`` = (term, doc_id, tf, dl, positions) term-repartitioned
    and term-sorted; ``stats/`` = 1 row (n_docs, total_dl);
    ``term_stats/`` = per-term (df, max_tf, min_dl) — df for scoring
    without a postings count, (max_tf, min_dl) the exact per-term
    max-impact inputs :func:`bm25_maxscore_topk` prunes with (the bound
    is recomputed against CURRENT corpus stats at query time, so the
    stored columns stay corpus-independent and mergeable: df sums,
    max_tf maxes, min_dl mins across disjoint doc sets)."""
    import os

    spark = docs.sparkSession
    postings = batch_postings(docs)
    (
        postings.hint("rebalance", "term")  # AQE-sized files (§6, r16)
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "postings"))
    )
    stored = spark.read.parquet(os.path.join(root, "postings"))
    (
        stored.agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("tf").alias("total_dl"),
        ).write.mode("overwrite").parquet(os.path.join(root, "stats"))
    )
    (
        stored.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),  # (term, doc_id) unique
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "term_stats"))
    )


def build_scored_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time (per fixture identity) build of the BM25-ready postings
    artifact (see :func:`write_scored_index` for the layout)."""
    return build_once(
        scored_index_path(spark, sf_dir),
        lambda root: write_scored_index(
            load_table(spark, sf_dir, "documents"), root
        ),
    )


def bm25_topk_over_postings(
    postings: DataFrame,
    stats: DataFrame,
    terms=BOOL_QUERY_TERMS,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k of the query ``terms`` over (term, doc_id, tf, dl)
    posting rows + a 1-row (n_docs, total_dl) stats frame — the SINGLE
    serving path shared by the one-pass artifact and the incrementally
    maintained one. Requires (term, doc_id) unique across the postings
    (df = the count of retrieved postings per term).

    ``allowed`` (r12) optionally restricts CANDIDATES to a caller-
    supplied (doc_id) frame — the policy/tenant/split-scoped serving
    shape, mirroring ivf_probe's filtered probe: the filter applies
    BEFORE the top-k (post-top-k filtering would silently under-return)
    but AFTER df/stats derivation — ranking uses GLOBAL corpus
    statistics, only the candidate set narrows (the semantics a tenant
    filter wants: a doc's score must not change because a reader can
    see fewer docs). Unhinted semi-join: AQE broadcasts a small policy
    slice, shuffles a corpus-scale one."""
    idx = postings.where(F.col("term").isin(*terms))
    df_t = idx.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if allowed is not None:
        idx = idx.join(allowed.select("doc_id"), "doc_id", "left_semi")
    return (
        idx.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))  # 1-row scalar frame
        .select(
            "doc_id",
            bm25_contrib_micro(
                F.col("tf"),
                F.col("dl"),
                F.col("df"),
                F.col("n_docs"),
                F.col("total_dl"),
            ).alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def q_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = build_scored_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(root, "postings"))
    stats = spark.read.parquet(os.path.join(root, "stats"))
    return bm25_topk_over_postings(postings, stats)


# the artifact path must equal the direct corpus computation
QUERIES["text_bm25_from_index"] = (q_bm25_from_index, _oracle_bm25())


# --- batch (fleet) BM25 from the stored index -------------------------------
# The text-side mirror of sim_knn_batch: Q queries answered in ONE plan
# over the same stored postings/stats artifacts single-query serving
# reads. Scale shape (the ivf_probe_batch lessons applied from the
# start): the union of all fleet terms is pushed as ONE In(term) filter
# into the postings scan (each term's postings read once however many
# queries share it); the (qid, term) query frame and the per-term df
# frame join UNHINTED — Q and the vocabulary are the scale-growing sides
# and are never force-broadcast (AQE broadcasts them at fixture size,
# shuffles at fleet size); the only forced broadcast is the provably
# 1-row stats frame; per-query top-k rides ONE qid-keyed window exchange.
# Registration: r13+ earmark (plans/registry.py capacity policy) — the
# PQ-family precedent: functions + oracle + tests now, slot later.

BM25_FLEET = (
    (1, ("dup", "window")),  # the registered rare+common shape
    (2, ("scan", "filter", "spark")),  # all-common, 3 terms
    (3, ("window", "hash")),  # shares a term with query 1
)


def bm25_batch_over_postings(
    postings: DataFrame,
    stats: DataFrame,
    fleet=BM25_FLEET,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(qid, doc_id, score_micro, rank): per-query BM25 top-k for every
    fleet query, one plan. Per-term df comes from the retrieved postings
    (term-level filter retrieves each query term's full postings, so df
    is the corpus df — the same identity single-query serving uses).
    ``allowed`` scopes every query's CANDIDATES to one (doc_id) policy
    frame before the per-qid top-k, after df derivation — the fleet form
    of the filtered serving semantics (global stats, narrowed set)."""
    spark = postings.sparkSession
    all_terms = sorted({t for _, ts in fleet for t in ts})
    idx = postings.where(F.col("term").isin(*all_terms))
    df_t = idx.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if allowed is not None:
        idx = idx.join(allowed.select("doc_id"), "doc_id", "left_semi")
    # One slice, not defaultParallelism: the fleet term list is a few
    # dozen rows; 32 near-empty slices would schedule 32 near-empty
    # tasks in every stage above (VERDICT r13 #1, shared spelling with
    # similarity.fleet_query_frame — parallelize(_, 1), NOT coalesce(1),
    # which would propagate the 1-partition count up through the fused
    # scoring stage; see fleet_query_frame's A/B note).
    qterms = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(qid, t) for qid, ts in fleet for t in ts], 1
        ),
        "qid long, term string",
    )
    scored = (
        idx.join(df_t, "term")  # unhinted: vocab-bounded, AQE decides
        .crossJoin(F.broadcast(stats))  # 1-row scalar frame
        .join(qterms, "term")  # unhinted: Q is the scale-growing side
        .select(
            "qid",
            "doc_id",
            bm25_contrib_micro(
                F.col("tf"),
                F.col("dl"),
                F.col("df"),
                F.col("n_docs"),
                F.col("total_dl"),
            ).alias("c_micro"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOPK)
        .select("qid", "doc_id", "score_micro", F.col("rank").cast("long").alias("rank"))
    )


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = build_scored_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(root, "postings"))
    stats = spark.read.parquet(os.path.join(root, "stats"))
    return bm25_batch_over_postings(postings, stats)


# --- filtered (policy-scoped) BM25 from the stored index --------------------
# The text twin of the filtered vector probe (similarity.py
# q_knn_filtered_label): candidates narrow to a caller-supplied doc set
# BEFORE the top-k, ranking keeps GLOBAL corpus stats. r13+ earmark.

BM25_FILTER_LANG = "en"  # ~40% of fixture docs at every sf


def q_bm25_filtered_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k restricted to documents whose lang == 'en' — the
    tenant/split-scoped retrieval shape over the stored index."""
    import os

    root = build_scored_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(root, INDEX_POSTINGS))
    stats = spark.read.parquet(os.path.join(root, INDEX_STATS))
    allowed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == BM25_FILTER_LANG)
        .select("doc_id")
    )
    return bm25_topk_over_postings(postings, stats, allowed=allowed)


def _oracle_bm25_filtered() -> str:
    return _oracle_bm25(
        allowed_sql=(
            "doc_id IN (SELECT doc_id FROM documents "
            f"WHERE lang = '{BM25_FILTER_LANG}')"
        )
    )


def _oracle_bm25_batch(fleet=BM25_FLEET) -> str:
    """Composed from the single-query corpus-scan spelling — one ranked
    instance per fleet query, qid-tagged (the hybrid-oracle precedent)."""
    legs = [
        f"""SELECT CAST({qid} AS BIGINT) AS qid, doc_id, score_micro,
       ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
FROM ({_oracle_bm25(terms=ts)}) leg_{qid}"""
        for qid, ts in fleet
    ]
    return "\nUNION ALL\n".join(legs)


# --- top-k pruned BM25 (max-score) from the stored index -------------------
# VERDICT r9/r10 #2: text_bm25_from_index reads the query terms' FULL
# postings — correct and bounded by postings, not corpus, but at 100 TB
# a skewed-df (stop-word-ish) term's postings IS corpus-scale. The
# classic exact answer is max-score pruning (Turtle & Flood 1995; the
# DAAT MaxScore family Lucene/Tantivy ship): a per-term upper bound on
# any single posting's contribution lets the engine skip the long
# postings of low-impact terms entirely, except where a short-postings
# candidate needs its contribution completed.
#
# The bound: bm25_contrib_micro is monotone increasing in tf and
# decreasing in dl (idf fixed per term), so contrib(tf, dl) <=
# contrib(max_tf, min_dl) for every posting of the term — with
# (max_tf, min_dl) stored per term at build/compaction, the bound is
# EXACT under current corpus stats and computed with the SAME Spark
# expression tree as scoring (same double association order, same
# micro-quantization — F.round is monotone, so quantized contributions
# respect it; no cross-engine ULP caveat can break the bound).
#
# The batch algorithm (3 bounded driver reads, never a corpus scan):
# 1. ub_t for the query terms from the |terms|-row term_stats lookup
#    (pushed In(term) scan) joined with the 1-row corpus stats.
# 2. theta = the k-th best single-term contribution of the highest-ub
#    ("seed") term — a top-k over the seed's postings only. At least k
#    docs have true score >= their seed contribution >= theta, so the
#    final k-th true score >= theta.
# 3. Split terms by ascending ub: non-essential N = the longest prefix
#    with cumulative ub STRICTLY below theta; essential E = the rest
#    (never empty: theta <= sum of all ub). A doc outside every
#    essential posting list scores <= sum_N ub < theta — it cannot
#    displace the top-k, ties included. So: scan E's postings fully,
#    scan N's postings ONLY for the candidate doc_ids E produced —
#    pushed as an In(doc_id,...) parquet filter when the candidate set
#    is small (postings are doc_id-sorted within each term, so row
#    groups of the skewed term actually skip), else a broadcast
#    semi-join (scoring work still pruned; scan pruning lost).
# Cost: the skewed term's postings are read ∝ |candidates of the rare
# terms|, not ∝ its own df — the 100 TB gap VERDICT r10 names, closed.
# Degenerate inputs degrade to the unpruned path, never to wrong
# answers (theta = 0 when the seed's df < k; candidate blowup falls
# back to the semi-join).

MAXSCORE_IN_LIMIT = 4096  # push In(doc_id,...) below this, semi-join above


def _bm25_maxscore(
    postings: DataFrame,
    stats: DataFrame,
    tstats: DataFrame,
    terms,
    diag: dict | None = None,
) -> DataFrame:
    """The max-score serving core over explicit frames: ``postings``
    (term, doc_id, tf, dl — (term, doc_id) unique), ``stats`` (1 row:
    n_docs, total_dl), ``tstats`` (per-term df, max_tf, min_dl,
    already restricted to the query terms). Shared by the one-pass
    scored artifact and the incrementally maintained index."""
    empty = (
        postings.select("doc_id").limit(0)
        .withColumn("score_micro", F.lit(0).cast("long"))
    )
    # (1) per-term exact upper bounds — |query terms| rows
    ub_rows = (
        tstats.crossJoin(F.broadcast(stats))
        .select(
            "term",
            "df",
            bm25_contrib_micro(
                F.col("max_tf"),
                F.col("min_dl"),
                F.col("df"),
                F.col("n_docs"),
                F.col("total_dl"),
            ).alias("ub"),
        )
        .collect()
    )
    if not ub_rows:  # no query term occurs in the corpus
        return empty
    ub = {r.term: int(r.ub) for r in ub_rows}
    df_of = {r.term: int(r.df) for r in ub_rows}
    present = sorted(ub)  # absent terms contribute nothing anywhere
    seed = max(present, key=lambda t: (ub[t], t))
    # (2) theta: k-th best single-term contribution of the seed term —
    # a top-k over ONE term's postings, k rows to the driver
    contrib = bm25_contrib_micro(
        F.col("tf"),
        F.col("dl"),
        F.lit(df_of[seed]),
        F.col("n_docs"),
        F.col("total_dl"),
    )
    seed_top = (
        postings.where(F.col("term") == seed)
        .crossJoin(F.broadcast(stats))
        .select(contrib.alias("c"))
        .orderBy(F.desc("c"))
        .limit(BM25_TOPK)
        .collect()
    )
    theta = int(seed_top[-1].c) if len(seed_top) == BM25_TOPK else 0
    # (3) ascending-ub prefix with cumulative bound strictly below theta
    by_ub = sorted(present, key=lambda t: (ub[t], t))
    pruned, acc = [], 0
    for t in by_ub:
        if acc + ub[t] < theta:
            pruned.append(t)
            acc += ub[t]
        else:
            break
    essential = [t for t in present if t not in set(pruned)]
    if diag is not None:
        diag.update(theta=theta, essential=essential, pruned=pruned, ub=ub)
    ess = postings.where(F.col("term").isin(*essential))
    if pruned:
        cand_rows = (
            ess.select("doc_id")
            .distinct()
            .limit(MAXSCORE_IN_LIMIT + 1)
            .collect()
        )
        non = postings.where(F.col("term").isin(*pruned))
        if len(cand_rows) <= MAXSCORE_IN_LIMIT:
            cands = [int(r.doc_id) for r in cand_rows]
            non = non.where(F.col("doc_id").isin(cands))
        else:
            # >MAXSCORE_IN_LIMIT candidates: the essential doc_id set
            # is UNBOUNDED above (a skewed high-ub term can be
            # essential while a low-ub moderate-df decoy is pruned —
            # then the candidate set is corpus-scale), so the semi-join
            # side must NOT be force-broadcast (VERDICT r11 #4: a
            # forced hint here is a driver/executor OOM at 100 TB).
            # Unhinted, AQE broadcasts when the set is actually small
            # and shuffles on doc_id when it isn't — both correct.
            non = non.join(
                ess.select("doc_id").distinct(),
                "doc_id",
                "left_semi",
            )
        scored = ess.unionByName(non)
    else:
        scored = ess
    dft = F.create_map(
        *[F.lit(x) for t in present for x in (t, df_of[t])]
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            bm25_contrib_micro(
                F.col("tf"),
                F.col("dl"),
                dft[F.col("term")],
                F.col("n_docs"),
                F.col("total_dl"),
            ).alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def bm25_maxscore_topk(
    spark: SparkSession,
    root: str,
    terms=BOOL_QUERY_TERMS,
    diag: dict | None = None,
) -> DataFrame:
    """Exact BM25 top-k from the scored index at ``root`` with
    max-score pruning — identical ranking to
    :func:`bm25_topk_over_postings` (the machine-checked pin), reading
    strictly fewer posting rows whenever pruning engages. ``diag``
    (tests): filled with theta / essential / pruned terms."""
    import os

    return _bm25_maxscore(
        spark.read.parquet(os.path.join(root, "postings")),
        spark.read.parquet(os.path.join(root, "stats")),
        spark.read.parquet(os.path.join(root, "term_stats")).where(
            F.col("term").isin(*terms)
        ),
        terms,
        diag,
    )


def bm25_maxscore_incremental(
    spark: SparkSession,
    index_dir: str,
    terms=BOOL_QUERY_TERMS,
    diag: dict | None = None,
) -> DataFrame:
    """Max-score serving from the INCREMENTALLY maintained index: the
    merged per-batch bounds (:func:`read_term_stats`) drive the same
    pruning core; whenever the bounds cannot be trusted (live
    tombstones, mid-crash partition mismatch) the query silently serves
    the unpruned spelling instead — identical ranking either way, the
    bounds only ever buy speed."""
    postings, stats = read_index(spark, index_dir)
    tstats = read_term_stats(spark, index_dir)
    if tstats is None:
        if diag is not None:
            diag["fallback"] = "bounds_unavailable"
        return bm25_topk_over_postings(postings, stats, terms)
    return _bm25_maxscore(
        postings, stats, tstats.where(F.col("term").isin(*terms)), terms, diag
    )


def q_bm25_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max-score-pruned serving spelling of the same ranking as
    text_bm25_from_index — SAME oracle (the corpus-scan BM25), so the
    driver proves pruning never changes the answer. Scale argument:
    SCALE.md §text-retrieval (query cost ∝ the RARE terms' postings +
    candidate-pruned reads of the skewed ones, never corpus)."""
    return bm25_maxscore_topk(spark, build_scored_index(spark, sf_dir))


QUERIES["text_bm25_maxscore"] = (q_bm25_maxscore, _oracle_bm25())


# --- incrementally maintained search index ---------------------------------
# VERDICT r7 item 2: the stored index above rebuilds from a FULL corpus
# pass whenever the fixture changes, but the engine ingests documents
# incrementally (streaming/ingest.py grows the kept corpus per
# micro-batch) — at 100 TB you cannot re-scan the corpus to refresh the
# search index. The maintenance discipline here is merge-on-read (the
# write_rollup/read_rollup pattern from streaming/sinks.py): each batch
# appends its PARTIAL postings as partition N of ``postings/`` (its own
# docs' (term, doc_id, tf, dl) rows — derivable from the batch alone,
# since tf and dl are doc-local) plus a 1-row partition N of ``stats/``
# (n_docs, total_dl — additive across batches). Reading merges
# all partitions; corpus stats = the SUM of the per-batch stats rows (a
# num-batches-sized table, not a postings scan). Invariant: a doc_id
# lands in exactly one batch — guaranteed by the dedup ingest (a doc is
# admitted at most once) and by any partitioned backfill; df then equals
# the count of merged postings per term, exactly as in the one-pass
# artifact. Dynamic partition overwrite makes a replayed batch overwrite
# only its own partition — idempotent, effective exactly-once (the
# write_history discipline). Each batch's files stay term-repartitioned
# + term-sorted, so the query's pushed IN(term) prunes row groups within
# every batch partition; a long-lived index compacts old batch
# partitions periodically (same merge, amortized), which is a pure
# background rewrite — readers see identical rows.

INDEX_POSTINGS = "postings"
INDEX_STATS = "stats"
INDEX_DOCS = "docs"
INDEX_TOMBSTONES = "tombstones"
INDEX_TERM_STATS = "term_stats"
POSTINGS_SCHEMA = (
    "term string, doc_id bigint, tf bigint, dl bigint, positions array<int>"
)
DOCS_SCHEMA = "doc_id bigint, dl bigint"
TOMBSTONES_SCHEMA = "doc_id bigint"
# per-term max-impact bound inputs (r11): corpus-independent and
# mergeable across disjoint doc sets (df sums, max_tf maxes, min_dl
# mins) — the incremental twin of the scored index's term_stats; see
# bm25_maxscore_topk for the bound derivation
TERM_STATS_SCHEMA = "term string, df bigint, max_tf bigint, min_dl bigint"
INDEX_VERSION_FILE = "_format_version.json"


def _delete_stats_id(delete_batch_id: int) -> int:
    """The stats partition key a delete batch's NEGATIVE corpus-stats
    row lands under. Deletes share the ``stats/`` dir with ordinary
    ingest batches (corpus stats stay ONE plain sum — no read-time
    correction step whose crash-consistency would need reasoning), so
    the key space must be disjoint from both real batch_ids (>= 0) and
    COMPACTED_BATCH_ID (-1): delete batch M writes stats under
    ``-(M + 2)`` (<= -2 always)."""
    return -(int(delete_batch_id) + 2)


def _check_version_marker(
    index_dir: str, data_sub: str, version: int, create: bool
) -> None:
    """Mutable (streaming-maintained) index dirs are NOT path-salted
    like the warehouse artifacts (their location is the user's, fixed
    across upgrades), so the format version must live IN the dir: a
    marker stamped at first write and verified on every write and read.
    Without it, a dir written by older code would be read under the
    newer schema — e.g. v1 postings served with NULL ``positions``,
    silently excluding every pre-upgrade doc from phrase results. A
    version mismatch (or versionless data from pre-marker code) is a
    loud rebuild/backfill demand, never a silent partial answer."""
    import json
    import os

    f = os.path.join(index_dir, INDEX_VERSION_FILE)
    if os.path.exists(f):
        with open(f) as fh:
            found = int(json.load(fh)["version"])
        if found != version:
            raise ValueError(
                f"index at {index_dir} was written by format v{found} "
                f"but this code serves v{version}: rebuild the index "
                "from the corpus (or run a backfill) — reading the old "
                "layout under the new schema would return wrong answers "
                "silently (e.g. NULL positions excluding pre-upgrade "
                "docs from phrase queries)"
            )
        return
    if fold.batch_ids(os.path.join(index_dir, data_sub)):
        raise ValueError(
            f"index at {index_dir} holds data but no format-version "
            f"marker (written by pre-v{version} code): rebuild it — its "
            "layout cannot be verified against the current schema"
        )
    if create:
        os.makedirs(index_dir, exist_ok=True)
        fold.atomic_write(f, json.dumps({"version": version}))


def write_index_batch(
    postings: DataFrame, batch_id: int, index_dir: str
) -> None:
    """Append batch ``batch_id``'s partial postings + stats partitions
    (idempotent: a replay overwrites only its own partitions).

    Refuses a batch_id at or below the compaction horizon: that batch's
    rows were already absorbed into the compacted partition, so
    re-appending them would double-count its postings — the replay
    hazard is mechanical, not a docstring caveat. Compact with a
    ``keep_last`` margin covering the replayable tail (the streaming
    checkpoint replays only the last uncommitted batch, so keep_last=1
    suffices for the ingest loop)."""
    import os

    _check_version_marker(
        index_dir, INDEX_POSTINGS, INDEX_FORMAT_VERSION, create=True
    )
    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    horizon = fold.read_horizon(ppath)
    if horizon is not None and batch_id <= horizon:
        raise ValueError(
            f"index batch {batch_id} is at or below the compaction "
            f"horizon ({horizon}): its postings were already absorbed "
            "into the compacted partition, and re-appending would "
            "double-count them — a replayed batch must stay behind the "
            "horizon (compact_index(keep_last=...) covers the "
            "replayable tail)"
        )
    # three consumers (postings write, docs write, stats write): pay
    # the batch's tokenize + aggregate lineage once, not three times —
    # this runs per micro-batch in the ingest hot path
    postings = postings.localCheckpoint()
    fold.write_batch(
        # no explicit partition count: AQE coalesces the term-hashed
        # shuffle to size-targeted partitions, so a tiny micro-batch
        # writes O(1) files instead of one near-empty file per shuffle
        # partition (per-batch file count is what compaction amortizes —
        # don't manufacture it at write time)
        postings.repartition("term").sortWithinPartitions("term", "doc_id"),
        batch_id,
        ppath,
    )
    # per-doc (doc_id, dl) — the artifact delete_index_docs looks the
    # deleted doc's length up in (one row per doc: ~100-1000x smaller
    # than the postings; the alternative is a full postings scan per
    # delete batch). dl is doc-local, so the per-batch invariant holds.
    docs = postings.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    fold.write_batch(docs, batch_id, os.path.join(index_dir, INDEX_DOCS))
    stats = postings.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        # an EMPTY batch sums to NULL; normalize to 0 so the merged
        # corpus stats are never poisoned into NULL-vs-0 ambiguity
        # (hypothesis found the all-docs-deleted corpus differing from
        # its filtered-rebuild twin by exactly this)
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("total_dl"),
    )
    fold.write_batch(stats, batch_id, os.path.join(index_dir, INDEX_STATS))
    # per-term max-impact bound inputs (r11, format v4): df/max_tf/
    # min_dl are doc-local like tf and dl, so a batch's rows derive
    # from the batch alone and merge additively across batches (a doc
    # lands in exactly one batch — the same invariant df rides on).
    # One term-grain aggregate of the already-checkpointed postings;
    # vocabulary-sized, tiny next to the postings write itself.
    fold.write_batch(
        postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        ),
        batch_id,
        os.path.join(index_dir, INDEX_TERM_STATS),
    )


def delete_index_docs(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame, batch_id: int
) -> None:
    """Delete documents from the incrementally maintained index — the
    GDPR/right-to-be-forgotten path (the index twin of the history
    sink's purge): the corpus is NEVER rewritten per delete. A delete
    batch lands two artifacts, both idempotent under replay:

    - partition M of ``tombstones/`` — the deleted doc_ids. Readers
      anti-join postings against the tombstone set (deletes are tiny
      next to the corpus — AQE broadcasts them), so every serving
      helper (boolean, phrase, prefix, BM25) is delete-aware through
      the one read path. df needs no correction: it is the count of
      retrieved postings per term, and those are already filtered.
    - a NEGATIVE 1-row corpus-stats partition of ``stats/`` keyed
      ``-(M+2)`` (see :func:`_delete_stats_id`) —
      corpus stats stay one plain SUM over the stats dir, so no
      read-time correction exists whose crash-consistency would need
      its own protocol, and every compaction fold below stays
      independently sum-preserving.

    Only doc_ids present in the ``docs/`` artifact AND not already
    tombstoned produce rows (deleting an unknown doc is a no-op; a
    SECOND delete of the same doc subtracts nothing twice). The
    already-tombstoned check excludes batch M's own partition, so a
    REPLAY of M recomputes the identical rows and overwrites only its
    own partitions (dynamic overwrite — effective exactly-once, the
    write_index_batch discipline; a crash between the two writes is
    healed by the caller's replay, same contract as postings/stats).
    A batch_id at or below the tombstone compaction horizon refuses
    loudly (its stats effect was already folded — re-appending would
    double-subtract). Re-ADDING a deleted doc_id later is unsupported:
    the ingest invariant (each doc_id admitted at most once, ever) is
    what df and the stats sums ride on. Any half-landed compaction
    install is RECOVERED at entry (the compact_index discipline): the
    dl lookup below derives a PERMANENT negative stats row from docs/,
    and a mid-install tree can list a doc in both its absorbed and
    compacted partitions — doubling the subtraction silently."""
    import os

    _check_version_marker(
        index_dir, INDEX_POSTINGS, INDEX_FORMAT_VERSION, create=False
    )
    recover_index_compaction(spark, index_dir)
    dpath = os.path.join(index_dir, INDEX_DOCS)
    if not os.path.isdir(dpath):
        raise ValueError(
            f"index at {index_dir} has no '{INDEX_DOCS}' artifact to "
            "resolve deletes against — not an incremental index, or "
            "written by pre-v3 code (rebuild it)"
        )
    if batch_id < 0:
        raise ValueError(
            f"delete batch_id must be >= 0 (got {batch_id}): the "
            "negative key space is reserved — the COMPACTED partition "
            "is -1 and delete-stats keys are -(M+2), so a negative "
            "delete batch would silently overwrite one of them"
        )
    tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
    horizon = fold.read_horizon(tpath)
    if horizon is not None and batch_id <= horizon:
        raise ValueError(
            f"delete batch {batch_id} is at or below the tombstone "
            f"compaction horizon ({horizon}): its corpus-stats effect "
            "was already folded into the compacted stats row, and "
            "re-appending would double-subtract — a replayed delete "
            "batch must stay behind the horizon (compact with "
            "keep_last covering the replayable tail)"
        )
    docs = fold.read_batches(spark, dpath, DOCS_SCHEMA)
    hits = (
        doc_ids.select("doc_id").distinct()
        .join(docs.select("doc_id", "dl"), "doc_id")
    )
    if os.path.isdir(tpath):
        existing = (
            fold.read_batches(spark, tpath, TOMBSTONES_SCHEMA)
            # exclude batch M's OWN partition: a replay must recompute
            # the identical rows, not see its first run's output and
            # write an empty partition (which would ERASE the delete)
            .where(F.col("batch_id") != batch_id)
            .select("doc_id")
        )
        hits = hits.join(existing, "doc_id", "left_anti")
    # two consumers (tombstone write + negative stats row): pay the
    # docs-artifact join once, and the second write can never diverge
    # from what the first committed
    hits = hits.localCheckpoint()
    fold.write_batch(
        hits.select("doc_id").repartition("doc_id"),  # AQE: O(1) files
        batch_id,
        tpath,
    )
    neg = hits.agg(
        (-F.count(F.lit(1))).cast("long").alias("n_docs"),
        (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("total_dl"),
    )
    fold.write_batch(
        neg, _delete_stats_id(batch_id), os.path.join(index_dir, INDEX_STATS)
    )


def read_index(spark: SparkSession, index_dir: str):
    """Merge-on-read view of the incrementally maintained index:
    (postings, stats) — postings is the union of all batch partitions
    minus the tombstoned docs, stats the summed 1-row corpus
    statistics (delete batches contribute negative rows, so the plain
    sum IS the corrected value). A subdir whose fold install crashed
    midway is refused (it may lack or double its folded rows)."""
    import os

    _check_version_marker(
        index_dir, INDEX_POSTINGS, INDEX_FORMAT_VERSION, create=False
    )
    for sub in (INDEX_POSTINGS, INDEX_TOMBSTONES, INDEX_STATS):
        fold.check_servable(index_dir, sub)
    # A batch whose docs were all dropped (or an empty corpus) writes a
    # ZERO-ROW partitioned postings frame — no parquet files, so schema
    # inference fails on read even though the index state is legitimate.
    # The explicit schema serves the empty index; every other read error
    # still raises (the ingest failure-policy discipline).
    postings = (
        fold.read_batches(
            spark, os.path.join(index_dir, INDEX_POSTINGS), POSTINGS_SCHEMA
        )
        .drop("batch_id")
    )
    tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
    if fold.batch_ids(tpath):
        tombs = (
            fold.read_batches(spark, tpath, TOMBSTONES_SCHEMA)
            .select("doc_id")
        )
        # deletes are tiny next to the corpus — AQE broadcasts the anti
        # side; a delete-free index (no tombstones dir, or every
        # tombstone purged by compaction) skips the node entirely, so
        # those plans are untouched
        postings = postings.join(tombs, "doc_id", "left_anti")
    stats = (
        spark.read.parquet(os.path.join(index_dir, INDEX_STATS))
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("total_dl"), F.lit(0))
            .cast("long")
            .alias("total_dl"),
        )
    )
    return postings, stats


def compact_index(
    spark: SparkSession, index_dir: str, keep_last: int = 0
) -> int:
    """Fold postings batch partitions (plus a previous compacted one)
    into the single compacted partition (``COMPACTED_BATCH_ID``); returns
    the number of source partitions absorbed (0 = nothing to do).
    Readers see identical rows before and after (pinned by test) — a
    pure background rewrite, the amortized cost of merge-on-read:
    term-sorted row groups WITHIN each batch partition mean a query's
    pushed IN(term) probes every partition's row groups, so probe cost
    grows with batch count; after compaction one term-sorted file set
    serves the whole corpus. Per-batch STATS rows are deliberately left
    alone — summing a num-batches-sized table on read is free, and
    leaving them keeps stats crash-independent of the postings swap.

    ``keep_last`` leaves the N highest batch_ids un-absorbed — the
    streaming replay margin: the ingest checkpoint can replay the last
    uncommitted batch, whose dynamic-partition re-overwrite is only
    idempotent while its partition still exists. The max batch_id
    actually absorbed is recorded as the compaction HORIZON (installed
    by the same swap that lands the rows), and write_index_batch
    refuses anything at or below it — the double-count hazard is
    enforced, not documented.

    Crash contract: every fold here commits through the package's one
    fold protocol (``fold.py``): a failed or interrupted staging is
    discarded (live tree untouched); once the staging is complete the
    install (move compacted partition in, drop absorbed partitions,
    record horizon) is idempotent. The function RECOVERS any pending
    install at entry (so maintenance loops never
    fold a tree whose previous install is half-landed — listing a tree
    mid-install would double-count the absorbed partitions against the
    already-moved-in compacted one); external readers that serve
    between compactions still call :func:`recover_index_compaction`
    first."""
    import os

    recover_index_compaction(spark, index_dir)
    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    absorb, src_ids = fold.plan(ppath, keep_last)
    if not absorb:
        # nothing new on the postings side; still fold tombstones/docs
        # (deletes may have accumulated without new ingest batches),
        # resume a stats fold a previous crash may have left undone,
        # and heal a term_stats/postings partition mismatch a crash
        # between the postings install and its re-alignment left
        compact_index_tombstones(spark, index_dir, keep_last)
        compact_index_docs(spark, index_dir)
        compact_index_stats(spark, index_dir)
        compact_index_term_stats(spark, index_dir)
        compact_index_suffix_dual(spark, index_dir)
        compact_index_fuzzy_dual(spark, index_dir)
        return 0
    horizon = fold.next_horizon(ppath, absorb)
    raw = fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
    merged = (
        raw.where(F.col("batch_id").isin([int(i) for i in src_ids]))
        .drop("batch_id")
    )
    tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
    if fold.batch_ids(tpath):
        # the PHYSICAL purge of deleted docs — readers already excluded
        # them (read_index anti-joins), so dropping their rows here
        # changes nothing a reader computes, whichever side of the
        # install a crash lands on
        tombs = (
            fold.read_batches(spark, tpath, TOMBSTONES_SCHEMA)
            .select("doc_id")
        )
        merged = merged.join(tombs, "doc_id", "left_anti")
    merged = (
        merged.hint("rebalance", "term")  # AQE-sized files (§6, r16)
        .sortWithinPartitions("term", "doc_id")
    )
    fold.stage_and_install(merged, index_dir, INDEX_POSTINGS, absorb, horizon)
    compact_index_tombstones(spark, index_dir, keep_last)
    compact_index_docs(spark, index_dir)
    compact_index_stats(spark, index_dir)
    compact_index_term_stats(spark, index_dir)
    compact_index_suffix_dual(spark, index_dir)
    compact_index_fuzzy_dual(spark, index_dir)
    return len(src_ids)


def read_term_stats(spark: SparkSession, index_dir: str):
    """Merged per-term (df, max_tf, min_dl) bounds for the incrementally
    maintained index, or None when the bounds cannot be trusted and the
    caller must serve UNPRUNED (correct either way — pruning is an
    optimization, and a wrong bound is the one thing that could make it
    a correctness bug):

    * live tombstones present — stored df/max_tf still count deleted
      docs, and an OVER-counted df UNDER-estimates idf and therefore
      the bound, which is the unsafe direction; bounds are exact again
      once compaction physically purges the victims and sweeps the
      tombstones (Lucene's deletes-degrade-bounds discipline);
    * term_stats partitions not 1:1 with the postings partitions — the
      crash window between a postings-fold install and the term_stats
      re-alignment fold (:func:`compact_index_term_stats` heals it at
      the next compaction);
    * no term_stats dir at all (a pre-v4 index, which the version
      marker refuses loudly anyway)."""
    import os

    tspath = os.path.join(index_dir, INDEX_TERM_STATS)
    if not os.path.isdir(tspath):
        return None
    if fold.batch_ids(os.path.join(index_dir, INDEX_TOMBSTONES)):
        return None
    if fold.batch_ids(tspath) != fold.batch_ids(
        os.path.join(index_dir, INDEX_POSTINGS)
    ):
        return None
    return (
        fold.read_batches(spark, tspath, TERM_STATS_SCHEMA)
        .groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        )
    )


def _live_doc_ids(spark: SparkSession, index_dir: str, *subs: str):
    """Distinct doc_ids present in the given index sub-dirs as stored
    (no tombstone exclusion) — the survival criterion for the
    tombstone and docs folds. One doc_id-column scan; parquet column
    pruning keeps it cheap, and it only runs inside a compaction
    (already a full-rewrite pass)."""
    import os

    schemas = {
        INDEX_POSTINGS: POSTINGS_SCHEMA,
        INDEX_TOMBSTONES: TOMBSTONES_SCHEMA,
    }
    frames = []
    for sub in subs:
        path = os.path.join(index_dir, sub)
        if os.path.isdir(path):
            frames.append(
                fold.read_batches(spark, path, schemas[sub]).select("doc_id")
            )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def compact_index_tombstones(
    spark: SparkSession, index_dir: str, keep_last: int = 0
) -> int:
    """Fold tombstone batch partitions, PURGING every tombstone whose
    doc has no stored postings left (the postings fold already dropped
    them) — a purged tombstone was a no-op in the read-time anti-join,
    so removing it is crash-independent of every other fold; one that
    still suppresses stored rows (its doc's home batch was kept by the
    postings fold's replay margin) survives into the compacted
    tombstone partition and purges on a later pass. ``keep_last``
    exempts the highest delete batch_ids (their replay must stay able
    to overwrite its own partition); the max absorbed id is recorded
    as the TOMBSTONE horizon, and :func:`delete_index_docs` refuses
    anything at or below it — once absorbed, a delete batch's negative
    stats row becomes foldable (see :func:`compact_index_stats`), so a
    replay re-appending it would double-subtract."""
    import os

    tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
    absorb, src_ids = fold.plan(tpath, keep_last)
    if absorb:
        horizon = fold.next_horizon(tpath, absorb)
    else:
        # No new delete batches — but tombstones already IN the
        # compacted partition may have become spent since the last fold
        # (a later postings fold absorbed their docs' home batches and
        # purged the rows). Without this re-sweep they would linger
        # forever: "purges on a later pass" must not require a later
        # DELETE to trigger the pass.
        if COMPACTED_BATCH_ID not in fold.batch_ids(tpath):
            return 0
        src_ids = [COMPACTED_BATCH_ID]
        horizon = None  # monotone: the recorded horizon stays in place
    raw = (
        fold.read_batches(spark, tpath, TOMBSTONES_SCHEMA)
        .where(F.col("batch_id").isin([int(i) for i in src_ids]))
        .drop("batch_id")
    )
    stored = _live_doc_ids(spark, index_dir, INDEX_POSTINGS)
    survivors = (
        raw.join(stored, "doc_id", "semi")
        if stored is not None
        else raw.limit(0)
    )
    if not absorb:
        # rewrite the compacted partition only when something purges
        survivors = survivors.localCheckpoint()
        if survivors.count() == raw.count():
            return 0
    fold.stage_and_install(
        survivors.repartition("doc_id"),
        index_dir,
        INDEX_TOMBSTONES,
        absorb,
        horizon,
    )
    return len(src_ids) if absorb else 1


def compact_index_docs(spark: SparkSession, index_dir: str) -> int:
    """Fold ``docs/`` batch partitions at or below the POSTINGS horizon
    (they ride the same replay rule: a docs partition is rewritten only
    by its write_index_batch replay, which the postings horizon already
    refuses), purging rows whose doc is fully dead — no stored postings
    AND no tombstone. A doc with stored postings still needs its row
    (it is what a future delete looks dl up in); a tombstoned doc needs
    it too (the tombstone's replay recomputes its rows from here).
    Purge is therefore re-derivable from the live tree alone — lingering
    rows from any crash window are swept by the next pass."""
    import os

    dpath = os.path.join(index_dir, INDEX_DOCS)
    horizon = fold.read_horizon(os.path.join(index_dir, INDEX_POSTINGS))
    if horizon is None or not os.path.isdir(dpath):
        return 0
    ids = sorted(fold.batch_ids(dpath))
    absorb = [i for i in ids if i != COMPACTED_BATCH_ID and i <= horizon]
    resweep_only = not absorb
    if resweep_only:
        # No foldable batch partitions — but docs rows already IN the
        # compacted partition may have become dead since the last fold
        # (their tombstone was purged once their postings went). A
        # lingering dead docs row is not just clutter: a LATER delete
        # of the same doc_id would find it, pass the already-tombstoned
        # check (the tombstone is gone), and write a SECOND permanent
        # negative stats row — the tombstone re-sweep's docs twin.
        if COMPACTED_BATCH_ID not in ids:
            return 0
        src_ids = [COMPACTED_BATCH_ID]
    else:
        src_ids = absorb + (
            [COMPACTED_BATCH_ID] if COMPACTED_BATCH_ID in ids else []
        )
    raw = (
        fold.read_batches(spark, dpath, DOCS_SCHEMA)
        .where(F.col("batch_id").isin([int(i) for i in src_ids]))
        .drop("batch_id")
    )
    alive = _live_doc_ids(
        spark, index_dir, INDEX_POSTINGS, INDEX_TOMBSTONES
    )
    survivors = (
        raw.join(alive, "doc_id", "semi") if alive is not None else raw.limit(0)
    )
    if resweep_only:
        survivors = survivors.localCheckpoint()
        if survivors.count() == raw.count():
            return 0  # nothing newly dead: leave the partition alone
    fold.stage_and_install(
        survivors.repartition("doc_id"), index_dir, INDEX_DOCS, absorb, None
    )
    return len(src_ids)


def compact_index_stats(spark: SparkSession, index_dir: str) -> int:
    """Fold the 1-row stats partitions of batches AT OR BELOW the
    compaction horizon into the single compacted stats row; returns the
    number of partitions folded. Summing a num-batches-sized table on
    read stays free, but each batch partition is a directory + file —
    at millions of micro-batches the FILE count is the problem, and
    this is its amortization. Readers compute identical sums before,
    during, and after (read_index sums all rows), and the postings
    crash-independence property is preserved: the fold runs AFTER the
    postings install (compact_index calls it last), so a crash anywhere
    in it changes nothing a reader computes — the fold simply resumes
    at the next compaction. Only horizon-covered batches fold: the
    horizon guarantees those batch_ids can never be re-appended, while
    a kept (replayable) batch keeps its own partition so its
    dynamic-overwrite replay stays idempotent. A delete batch's
    NEGATIVE stats row (key ``-(M+2)``, see :func:`_delete_stats_id`)
    folds under the same rule against the TOMBSTONE horizon — absorbed
    delete batches can never be re-appended (delete_index_docs refuses
    them), kept ones keep their own partition. The fold sums both
    signs, so it stays value-preserving at every crash point."""
    import os

    spath = os.path.join(index_dir, INDEX_STATS)
    horizon = fold.read_horizon(os.path.join(index_dir, INDEX_POSTINGS))
    t_horizon = fold.read_horizon(os.path.join(index_dir, INDEX_TOMBSTONES))
    if (horizon is None and t_horizon is None) or not os.path.isdir(spath):
        return 0
    ids = sorted(fold.batch_ids(spath))
    absorb = [
        i
        for i in ids
        if (horizon is not None and 0 <= i <= horizon)
        or (t_horizon is not None and i <= -2 and -i - 2 <= t_horizon)
    ]
    if not absorb:
        return 0
    has_compacted = COMPACTED_BATCH_ID in ids
    src_ids = absorb + ([COMPACTED_BATCH_ID] if has_compacted else [])
    summed = (
        spark.read.parquet(spath)
        .where(F.col("batch_id").isin([int(i) for i in src_ids]))
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_dl").alias("total_dl"),
        )
    )
    fold.stage_and_install(summed, index_dir, INDEX_STATS, absorb, None)
    return len(src_ids)


def compact_index_term_stats(spark: SparkSession, index_dir: str) -> int:
    """Re-align the per-term bounds artifact with the postings after a
    fold. The compacted partition's rows are RECOMPUTED from the
    compacted postings partition — never additively merged: absorbed
    batches' pre-purge counts would keep deleted docs inside df/max_tf,
    and the recompute is one vocabulary-grain groupBy over rows the
    postings fold just rewrote anyway. Absorbed term_stats partitions
    drop; replayable-tail partitions stay 1:1 with their postings
    partitions (their write_index_batch replay rewrites both). Runs
    AFTER the postings install: a crash between the two leaves a
    partition set that no longer matches the postings, which
    :func:`read_term_stats` detects and answers with None (serving
    falls back to unpruned scoring) until the next compaction heals it
    — degraded, never wrong."""
    import os

    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    tspath = os.path.join(index_dir, INDEX_TERM_STATS)
    if not os.path.isdir(tspath):
        return 0
    p_ids, t_ids = fold.batch_ids(ppath), fold.batch_ids(tspath)
    absorbed = sorted(
        i for i in t_ids if i != COMPACTED_BATCH_ID and i not in p_ids
    )
    recompute = COMPACTED_BATCH_ID in p_ids and (
        bool(absorbed) or COMPACTED_BATCH_ID not in t_ids
    )
    stale_compacted = (
        COMPACTED_BATCH_ID in t_ids and COMPACTED_BATCH_ID not in p_ids
    )
    if not (absorbed or recompute or stale_compacted):
        return 0
    if COMPACTED_BATCH_ID in p_ids:
        merged = (
            fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
            .where(F.col("batch_id") == COMPACTED_BATCH_ID)
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.max("tf").alias("max_tf"),
                F.min("dl").alias("min_dl"),
            )
        )
    else:
        # postings fold ended empty (everything purged): stage a
        # zero-row merge so the install drops the stale compacted
        # bounds partition (fold.stage_and_install's staged_empty path)
        merged = (
            fold.read_batches(spark, tspath, TERM_STATS_SCHEMA)
            .drop("batch_id")
            .limit(0)
        )
    fold.stage_and_install(merged, index_dir, INDEX_TERM_STATS, absorbed, None)
    return len(absorbed) + (1 if (recompute or stale_compacted) else 0)


# --- incrementally maintained suffix dual (r11) ----------------------------
# The one-pass reversed-term dual (build_reversed_index) serves suffix
# queries with a pushed prefix probe — but it derives from a FULL corpus
# pass, which a streaming index cannot afford to repeat. The incremental
# discipline: the dual mirrors ONLY the compacted postings partition
# (re-derived inside the compaction that rewrites those rows anyway —
# one postings-sized projection, never a corpus re-scan), while the
# replayable-tail batches are served straight from the PRIMARY postings
# with an endswith filter. The tail carries no range prune, but its size
# is bounded by the compaction cadence — exactly the LSM/Lucene
# small-segments-scan-fine discipline. Freshness is a horizon handshake:
# the dual records the postings horizon it was derived at (installed
# atomically with its rows by the shared stage-and-install machinery);
# any mismatch (mid-crash, dual never built, postings re-folded) makes
# serving fall back to the primary-only endswith scan — degraded, never
# wrong — until the next compaction re-aligns it.

REV_SCHEMA = "rterm string, doc_id bigint, tf bigint"


def compact_index_suffix_dual(spark: SparkSession, index_dir: str) -> int:
    """Re-derive the reversed-term dual from the compacted postings
    partition (skipped when the recorded horizons already agree and the
    dual partition exists). Runs AFTER the postings install; the
    staged install records the postings horizon atomically with the
    dual's rows."""
    import os

    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    horizon = fold.read_horizon(ppath)
    if horizon is None:
        return 0  # nothing compacted yet: the whole index is tail
    rpath = os.path.join(index_dir, INDEX_POSTINGS_REV)
    if fold.read_horizon(rpath) == horizon and (
        COMPACTED_BATCH_ID in fold.batch_ids(rpath)
        or COMPACTED_BATCH_ID not in fold.batch_ids(ppath)
    ):
        return 0
    merged = (
        fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
        .where(F.col("batch_id") == F.lit(COMPACTED_BATCH_ID))
        .select(F.reverse(F.col("term")).alias("rterm"), "doc_id", "tf")
        .hint("rebalance", "rterm")  # AQE-sized files (§6, r16)
        .sortWithinPartitions("rterm", "doc_id")
    )
    fold.stage_and_install(merged, index_dir, INDEX_POSTINGS_REV, [], horizon)
    return 1


# --- incrementally maintained fuzzy dual (r11) -----------------------------
# Same discipline as the suffix dual: the deletion-neighborhood dual
# (variant, term) mirrors only the COMPACTED postings' vocabulary
# (re-derived inside the compaction — vocabulary-sized, tiny next to
# the postings rewrite), the replayable-tail batches contribute
# candidates through a DISTRIBUTED membership check (tail vocabulary ->
# explode deletion variants -> pushed IN against the query's variant
# buckets), and the horizon handshake degrades a stale dual to running
# that same membership check over the FULL vocabulary — correct,
# vocabulary-scale, healed at the next compaction. Candidate terms are
# verified driver-side with the exact distance-1 check (bounded: the
# probed buckets' collisions) and the postings probe is the standard
# delete-aware pushed IN(term) over read_index.


def compact_index_fuzzy_dual(spark: SparkSession, index_dir: str) -> int:
    """Re-derive the deletion-neighborhood dual from the compacted
    postings' vocabulary (skipped when the recorded horizons already
    agree and the dual partition exists)."""
    import os

    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    horizon = fold.read_horizon(ppath)
    if horizon is None:
        return 0  # nothing compacted yet: the whole index is tail
    fpath = os.path.join(index_dir, INDEX_FUZZY)
    if fold.read_horizon(fpath) == horizon and (
        COMPACTED_BATCH_ID in fold.batch_ids(fpath)
        or COMPACTED_BATCH_ID not in fold.batch_ids(ppath)
    ):
        return 0
    merged = (
        fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
        .where(F.col("batch_id") == F.lit(COMPACTED_BATCH_ID))
        .select("term")
        .distinct()
        .select("term", F.explode(F.expr(_VARIANTS_SQL)).alias("variant"))
        .distinct()
        .hint("rebalance", "variant")  # AQE-sized files (§6, r16)
        .sortWithinPartitions("variant", "term")
    )
    fold.stage_and_install(merged, index_dir, INDEX_FUZZY, [], horizon)
    return 1


def fuzzy_hits_incremental(
    spark: SparkSession, index_dir: str, queries: tuple[str, ...] = None
) -> DataFrame:
    """Fuzzy retrieval (single or multi-typo AND) from the
    incrementally maintained index — candidate terms from the compacted
    dual probe plus the tail vocabulary's distributed neighborhood
    check, exact distance-1 verify, then the standard delete-aware
    postings probe (see the section comment)."""
    import os

    if queries is None:
        queries = (FUZZY_QUERY,)
    _check_version_marker(
        index_dir, INDEX_POSTINGS, INDEX_FORMAT_VERSION, create=False
    )
    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    fpath = os.path.join(index_dir, INDEX_FUZZY)
    raw = fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
    variants = sorted({v for q in queries for v in _deletion_variants(q)})
    horizon = fold.read_horizon(ppath)
    fresh = horizon is not None and fold.read_horizon(fpath) == horizon
    if fresh:
        comp_terms = (
            fold.read_batches(spark, fpath, "variant string, term string")
            .where(F.col("variant").isin(variants))
            .select("term")
        )
        tail_vocab = (
            raw.where(F.col("batch_id") != F.lit(COMPACTED_BATCH_ID))
            .select("term")
            .distinct()
        )
    else:
        comp_terms = None
        tail_vocab = raw.select("term").distinct()
    tail_terms = (
        tail_vocab.select(
            "term", F.explode(F.expr(_VARIANTS_SQL)).alias("variant")
        )
        .where(F.col("variant").isin(variants))
        .select("term")
    )
    cand_df = (
        tail_terms
        if comp_terms is None
        else comp_terms.unionByName(tail_terms)
    )
    terms = [r.term for r in cand_df.distinct().collect()]
    cand = {
        q: sorted(t for t in terms if _within_one_edit(t, q))
        for q in queries
    }
    postings, _ = read_index(spark, index_dir)
    return _fuzzy_qualify(postings, queries, cand)


def suffix_hits_incremental(
    spark: SparkSession, index_dir: str, suffixes=(SUFFIX_QUERY,)
) -> DataFrame:
    """Suffix retrieval (single or multi-pattern AND) from the
    incrementally maintained index: pushed prefix probe of the
    compacted dual + endswith scan of the replayable-tail primary
    partitions, tombstone-aware, identical rows to a corpus-scan at
    every point (see the section comment for the freshness
    handshake)."""
    import os

    _check_version_marker(
        index_dir, INDEX_POSTINGS, INDEX_FORMAT_VERSION, create=False
    )
    ppath = os.path.join(index_dir, INDEX_POSTINGS)
    rpath = os.path.join(index_dir, INDEX_POSTINGS_REV)
    raw = fold.read_batches(spark, ppath, POSTINGS_SCHEMA)
    rpats = [s[::-1] for s in suffixes]
    horizon = fold.read_horizon(ppath)
    fresh = horizon is not None and fold.read_horizon(rpath) == horizon
    if fresh:
        dcond = F.col("rterm").startswith(rpats[0])
        for p in rpats[1:]:
            dcond = dcond | F.col("rterm").startswith(p)
        dual_hits = (
            fold.read_batches(spark, rpath, REV_SCHEMA)
            .drop("batch_id")
            .where(dcond)
        )
        tail = raw.where(F.col("batch_id") != F.lit(COMPACTED_BATCH_ID))
    else:
        dual_hits = None
        tail = raw
    tcond = F.col("term").endswith(suffixes[0])
    for s in suffixes[1:]:
        tcond = tcond | F.col("term").endswith(s)
    tail_hits = tail.where(tcond).select(
        F.reverse(F.col("term")).alias("rterm"), "doc_id", "tf"
    )
    hits = (
        tail_hits
        if dual_hits is None
        else dual_hits.unionByName(tail_hits)
    )
    tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
    if fold.batch_ids(tpath):
        tombs = (
            fold.read_batches(spark, tpath, TOMBSTONES_SCHEMA)
            .select("doc_id")
        )
        hits = hits.join(tombs, "doc_id", "left_anti")
    return _suffix_agg(hits, rpats)


def recover_index_compaction(spark: SparkSession, index_dir: str) -> bool:
    """Finish every :func:`compact_index` fold install that crashed
    after its staging completed and discard every incomplete staging
    (``fold.recover`` per subdir). Returns True if at least one pending
    install was completed."""
    recovered = [
        fold.recover(index_dir, sub)
        for sub in (
            INDEX_POSTINGS,
            INDEX_TOMBSTONES,
            INDEX_DOCS,
            INDEX_STATS,
            INDEX_TERM_STATS,
            INDEX_POSTINGS_REV,
            INDEX_FUZZY,
        )
    ]
    return any(recovered)


INCR_BATCHES = 4


def incremental_index_path(spark: SparkSession, sf_dir: str) -> str:
    return posting_index_path(spark, sf_dir) + "_incr"


def build_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Simulated incremental build for the registry query: the corpus
    arrives as INCR_BATCHES deterministic batches (doc_id mod — each doc
    in exactly one batch), each appended via :func:`write_index_batch`
    exactly as the streaming ingest loop does per micro-batch. Idempotent
    per fixture identity (build_once: a build interrupted between
    batches is never served)."""

    def build(root: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        for b in range(INCR_BATCHES):
            batch = docs.where(F.col("doc_id") % INCR_BATCHES == b)
            write_index_batch(batch_postings(batch), b, root)

    return build_once(incremental_index_path(spark, sf_dir), build)


def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = build_incremental_index(spark, sf_dir)
    postings, stats = read_index(spark, root)
    return bm25_topk_over_postings(postings, stats)


# the incrementally built artifact must serve the SAME ranking as the
# direct corpus computation — one oracle for all three spellings
QUERIES["text_bm25_incremental"] = (q_bm25_incremental, _oracle_bm25())


def q_bm25_maxscore_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-score-pruned serving of the INCREMENTALLY maintained index
    (registered r13, VERDICT r11 #6 / r12 #1): the merged per-batch
    (df, max_tf, min_dl) bounds drive the same Turtle & Flood pruning
    core as text_bm25_maxscore, over artifacts that were never built by
    a full corpus pass — the serving shape a 100 TB streaming corpus
    actually runs. SAME oracle as every other BM25 spelling (the
    corpus-scan ranking), so the driver proves that incremental
    maintenance + pruning together never change the answer. Scale
    argument: SCALE.md §text-retrieval; fold-crash, bounds-unavailable
    fallback, and through-delete-and-compaction batteries in
    tests/test_bm25_maxscore.py. Funded by retiring
    text_bm25_incremental — the UNPRUNED serving of the same artifacts,
    whose ranking stays machine-pinned by the pruned==unpruned equality
    battery in tests/test_bm25_maxscore.py every build."""
    return bm25_maxscore_incremental(
        spark, build_incremental_index(spark, sf_dir)
    )


QUERIES["text_bm25_maxscore_incremental"] = (
    q_bm25_maxscore_incremental,
    _oracle_bm25(),
)


# --- deletes in the incrementally maintained index --------------------------
# The right-to-be-forgotten path for the search index (the twin of the
# history sink's GDPR purge, streaming/sinks.py): delete_index_docs
# tombstones doc_ids without rewriting the corpus; every serving helper
# is delete-aware through read_index's anti-join; BM25's corpus stats
# (n_docs, total_dl) are corrected by the delete batch's negative stats
# row, and df self-corrects (it is the count of surviving postings per
# term). compact_index PHYSICALLY purges the deleted docs' postings —
# GDPR erasure completes at compaction, exactly like the history sink.
# The registry query deletes a deterministic slice after an incremental
# build, compacts (so the driver row exercises the purge path, not just
# the anti-join), and serves the standard BM25 query; the oracle is the
# corpus-scan spelling over the SURVIVING documents — ranking, df and
# stats must all reflect the post-delete corpus exactly.

DELETE_MOD = 7
DELETE_REM = 3


def build_incremental_index_with_deletes(
    spark: SparkSession, sf_dir: str
) -> str:
    """Incremental build (INCR_BATCHES batches), then ONE delete batch
    tombstoning every doc_id % DELETE_MOD == DELETE_REM, then a
    compaction with keep_last=1 — batches 0..INCR_BATCHES-2 fold (their
    deleted docs' postings physically purge), the last batch and the
    tombstones stay live (the served query exercises purged + anti-
    joined paths at once). Idempotent per fixture identity."""

    def build(root: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        for b in range(INCR_BATCHES):
            batch = docs.where(F.col("doc_id") % INCR_BATCHES == b)
            write_index_batch(batch_postings(batch), b, root)
        delete_index_docs(
            spark,
            root,
            docs.where(F.col("doc_id") % DELETE_MOD == DELETE_REM).select(
                "doc_id"
            ),
            INCR_BATCHES,
        )
        compact_index(spark, root, keep_last=1)

    return build_once(incremental_index_path(spark, sf_dir) + "_del", build)


def q_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = build_incremental_index_with_deletes(spark, sf_dir)
    postings, stats = read_index(spark, root)
    return bm25_topk_over_postings(postings, stats)


QUERIES["text_bm25_after_delete"] = (
    q_bm25_after_delete,
    _oracle_bm25(
        where=f" WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}"
    ),
)


# --- phrase retrieval from the stored positional postings ------------------
# The boolean algebra (AND/OR/AND-NOT) and BM25 are term-set queries; a
# PHRASE query ("t1 t2", adjacent tokens) needs token positions — the
# standard next postings payload after (tf, dl). batch_postings now
# carries each term's sorted 0-based position array (doc-local, so the
# incremental per-batch invariant is untouched), and the phrase is
# served by posting intersection + position adjacency: postings of t1
# shifted by +1 intersected with postings of t2, entirely JVM-side
# array ops over the two terms' posting rows. Cost ∝ the two terms'
# postings (plan-pinned corpus-free, pushed EqualTo(term) scans); the
# oracle is the corpus-scan spelling, and the incrementally maintained
# index serves the same query through the same helper (same oracle).

PHRASE_T1 = "window"
PHRASE_T2 = "scan"


def phrase_hits_over_postings(
    postings: DataFrame,
    slop: int = 1,
    terms: tuple = (PHRASE_T1, PHRASE_T2),
) -> DataFrame:
    """Docs containing the n-term phrase ``terms`` (each term within
    ``slop`` positions AFTER its predecessor; slop=1 = the exact
    adjacent phrase, slop=k = chained proximity), with the match-site
    count (distinct qualifying FINAL-term positions) — the SINGLE
    serving path shared by the one-pass artifact and the incrementally
    maintained one. A left-to-right fold: ``ends`` starts as the first
    term's positions; each step intersects the slop-shifted ends with
    the next term's positions (so ``ends`` is always "positions where
    a qualifying prefix chain ends"). Still posting-bounded: one
    pushed EqualTo(term) postings scan per phrase term, position
    arrays the only join payload, all checks JVM-side array ops — the
    corpus is never touched, and cost ∝ the query terms' postings.
    array_intersect dedups, so an end position reachable from several
    predecessor positions counts once — for slop=1 and two terms this
    is exactly the adjacency-site count."""
    _phrase_guard(slop, terms)

    def _pos(t: str, name: str) -> DataFrame:
        return postings.where(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(name)
        )

    cur = _pos(terms[0], "ends")
    for t in terms[1:]:
        shifted = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(slop)),
                lambda d: F.transform(F.col("ends"), lambda p: p + d),
            )
        )
        cur = (
            cur.join(_pos(t, "pos_next"), "doc_id")
            .select(
                "doc_id",
                F.array_intersect(shifted, F.col("pos_next")).alias("ends"),
            )
            .where(F.size("ends") > 0)
        )
    return cur.select(
        "doc_id", F.size("ends").cast("long").alias("n_adjacent")
    )


def _phrase_guard(slop: int, terms: tuple) -> None:
    """slop < 1 would not mean "stricter": F.sequence(1, 0) yields a
    DESCENDING [1, 0] (Spark auto-descends), silently admitting shift 0
    (t1 and t2 at the same position) and, for negatives, t2 BEFORE t1 —
    wrong results, not an error. Refuse loudly instead. A phrase needs
    at least two terms (one term is a plain posting lookup)."""
    if slop < 1:
        raise ValueError(
            f"slop must be >= 1 (got {slop}): slop=1 is the adjacent "
            "phrase; larger admits intervening tokens"
        )
    if len(terms) < 2:
        raise ValueError(
            f"a phrase needs >= 2 terms (got {len(terms)}): a one-term "
            "'phrase' is a plain posting lookup, not an adjacency query"
        )


def q_phrase_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = build_scored_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(root, INDEX_POSTINGS))
    return phrase_hits_over_postings(postings)


def q_phrase_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = build_incremental_index(spark, sf_dir)
    postings, _stats = read_index(spark, root)
    return phrase_hits_over_postings(postings)


# corpus-scan spelling: 1-based list indexing in DuckDB, so x ranges
# over 1..len-1 and t[x]/t[x+1] is the adjacent pair — equivalent to
# the 0-based shifted-intersection (each adjacency site pairs one t1
# position with exactly one t2 position, so the counts agree)
ORACLE_PHRASE = f"""
WITH toks AS (
  SELECT doc_id, {_O_WORDS} AS t FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(range(1, len(t)),
            x -> t[x] = '{PHRASE_T1}' AND t[x+1] = '{PHRASE_T2}'))
         AS BIGINT) AS n_adjacent
FROM toks
WHERE len(list_filter(range(1, len(t)),
      x -> t[x] = '{PHRASE_T1}' AND t[x+1] = '{PHRASE_T2}')) > 0
"""

QUERIES["text_phrase_from_index"] = (q_phrase_from_index, ORACLE_PHRASE)
QUERIES["text_phrase_incremental"] = (q_phrase_incremental, ORACLE_PHRASE)
# Registered r15 per the recorded drain: the fleet BM25 form, funded
# by retiring text_bm25_maxscore (same _oracle_bm25 ranking; the
# pruned scored-index serving stays pinned by the pruned==unpruned
# battery in tests/test_bm25_maxscore.py, and the REGISTERED MaxScore
# representative remains text_bm25_maxscore_incremental — the
# strictly-more-machinery spelling). The retiree's QUERIES entry stays
# for those pins; plans/registry.py filters it via _RETIRED.
QUERIES["text_bm25_batch"] = (q_bm25_batch, _oracle_bm25_batch())

# Permanent earmark tier (plans/registry.py capacity decision): the
# filtered serving — gated by tests/test_filtered_retrieval.py AND the
# generic earmark parity gate over this dict (r14).
EARMARKS = {
    "text_bm25_filtered": (q_bm25_filtered_lang, _oracle_bm25_filtered()),
}
