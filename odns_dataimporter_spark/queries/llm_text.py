"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.7).

All pure Catalyst expression work over the ``documents`` table: token
statistics, quality scoring, language-ID (stopword heuristic), document
fingerprinting, TF-IDF term weighting, regex (BPE-ish) tokenization.
No Python UDFs — at 100 TB these run inside whole-stage codegen at
scan speed, and the only shuffles are the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import TOKENS_SQL, gram_hash_sql, tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "text_tokenize_stats",
    oracle="""
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  round(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
  round(AVG(n_chars), 6) AS avg_chars,
  MAX(len(string_split(text, ' '))) AS max_tokens
FROM documents
GROUP BY lang
""",
    tags=("llm", "text"),
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language bucket."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens())
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tok), 6).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.max(n_tok).cast("long").alias("max_tokens"),
    )


_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@register(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         list_distinct(string_split(text, ' ')) AS utoks,
         length(text) AS nc
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  len(utoks) AS n_uniq,
  floor(len(utoks) * 1000000.0 / len(toks)) / 1000000.0 AS uniq_ratio,
  floor((nc - len(toks) + 1) * 1000000.0 / len(toks)) / 1000000.0 AS avg_word_len,
  floor(len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) * 1000000.0
        / len(toks)) / 1000000.0 AS stopword_ratio
FROM t
""",
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: type/token ratio, mean word length,
    stopword ratio — the standard cheap filters before LLM training.
    Ratios are floor-quantized (identical IEEE ops on identical doubles)
    rather than rounded, to dodge round-half divergence."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    utoks = F.array_distinct(toks)
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))

    def q6(numer, denom):
        # scale BEFORE dividing, exactly like the oracle SQL — the other
        # order ((a/b)*1e6) floors differently when a/b is not exactly
        # representable (e.g. 41/10: ratio-first gives 4.099999)
        return F.floor(numer * F.lit(1_000_000.0) / denom) / 1_000_000.0

    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.size(utoks).cast("long").alias("n_uniq"),
        q6(F.size(utoks), n_tok).alias("uniq_ratio"),
        q6(F.length("text") - n_tok + 1, n_tok).alias("avg_word_len"),
        q6(n_sw, n_tok).alias("stopword_ratio"),
    )


# Tiny deterministic stopword profiles per language. The corpus is
# synthetic word soup, so the *predictions* are arbitrary — what the
# oracle verifies is that the scoring+argmax pipeline is deterministic
# and identical on both engines.
_LANG_PROFILES = {
    "en": ("the", "a", "and"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "und", "ein"),
}


def _lang_overlap_sql(words: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_intersect(list_distinct(string_split(text, ' ')), {arr}))"


_LANG_ID_ORACLE = (
    "SELECT doc_id, lang AS labeled_lang, CASE "
    + " ".join(
        f"WHEN {_lang_overlap_sql(ws)} = g AND g > 0 THEN '{lang}'"
        for lang, ws in _LANG_PROFILES.items()
    )
    + " ELSE 'und' END AS predicted_lang FROM (SELECT *, greatest("
    + ", ".join(_lang_overlap_sql(ws) for ws in _LANG_PROFILES.values())
    + ") AS g FROM documents)"
)


@register("text_lang_id", oracle=_LANG_ID_ORACLE, tags=("llm", "text"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of stopword-profile overlap with a
    deterministic preference order on ties and 'und' when nothing hits.
    (Real lang-ID would swap in fastText/CLD3 via a Pandas UDF — the
    pipeline shape is identical.)"""
    docs = load_table(spark, sf_dir, "documents")
    utoks = F.array_distinct(tokens())
    overlaps = {
        lang: F.size(F.array_intersect(utoks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in _LANG_PROFILES.items()
    }
    df = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *[
        c.alias(f"ov_{lang}") for lang, c in overlaps.items()
    ])
    g = F.greatest(*[F.col(f"ov_{lang}") for lang in _LANG_PROFILES])
    pred = F.lit("und")
    # build the CASE chain in reverse so earlier langs win ties
    for lang in reversed(list(_LANG_PROFILES)):
        pred = F.when((F.col(f"ov_{lang}") == g) & (g > 0), lang).otherwise(pred)
    return df.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


@register(
    "text_fingerprint",
    oracle="""
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS fingerprint
  FROM documents
)
GROUP BY fingerprint
""",
    tags=("llm", "text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (hash of the sorted distinct
    token set) — catches shuffled/reordered near-copies that exact
    hashing misses, at one hash per document."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "text_tfidf",
    oracle="""
WITH N AS (SELECT COUNT(*) AS n FROM documents),
df AS (
  SELECT term, COUNT(*) AS doc_freq
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents)
  GROUP BY term
)
SELECT term, doc_freq, round(ln(n / doc_freq), 6) AS idf
FROM df, N
ORDER BY doc_freq DESC, term
LIMIT 100
""",
    tags=("llm", "text"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + IDF per term (the groupBy-side of TF-IDF; the
    per-doc TF join is a plain broadcast of this output). Explode of
    distinct tokens keeps the shuffle at |vocab|, not |corpus|."""
    docs = load_table(spark, sf_dir, "documents")
    # corpus size as a 1-row aggregate folded into the SAME plan via a
    # broadcast cross join — no driver-side count(), no extra full scan
    nn = docs.agg(F.count("*").alias("n_docs"))
    terms = docs.select(F.explode(F.array_distinct(tokens())).alias("term"))
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(nn)
        .select(
            "term",
            "doc_freq",
            F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
        )
        .orderBy(F.col("doc_freq").desc(), "term")
        .limit(100)
    )


@register(
    "text_token_count_regex",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_re_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers
FROM documents
""",
    tags=("llm", "text"),
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization counts (letters / digits / punctuation
    classes) — the cheap token-count estimator for data budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
        ).cast("long").alias("n_re_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0))).cast("long").alias("n_numbers"),
    )


@register(
    "text_bigram_freq",
    oracle="""
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS freq
FROM (
  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
    AS bigram
  FROM documents
)
GROUP BY bigram
ORDER BY freq DESC, bigram
LIMIT 50
""",
    tags=("llm", "text"),
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-bigram frequencies (top 50): the n-gram statistic
    under language models and contamination checks; explode keeps the
    shuffle at |bigram vocabulary|."""
    docs = load_table(spark, sf_dir, "documents")
    # bind the tokens before the lambda (ARCHITECTURE.md "Text substrate")
    base = docs.withColumn("words", tokens())
    # guard: sequence(1, 0) is DESCENDING [1, 0] on Spark (slice start
    # 0 is an ANSI crash on a 1-token doc); DuckDB's range is empty
    bigrams = F.when(
        F.size("words") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("words") - 1),
            lambda i: F.concat_ws(" ", F.slice("words", i, 2)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        base.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(50)
    )


@register(
    "llm_prep_pipeline",
    oracle="""
WITH filtered AS (
  SELECT doc_id, text, lang, n_chars,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq
  FROM documents
  WHERE lang IN ('en', 'fr', 'es')
    AND n_chars BETWEEN 50 AND 2000
    AND len(list_distinct(string_split(text, ' '))) * 1000000.0
        / len(string_split(text, ' ')) >= 200000.0
),
deduped AS (
  SELECT md5(text) AS digest, MIN(doc_id) AS doc_id,
         any_value(lang) AS lang, any_value(n_tok) AS n_tok
  FROM filtered GROUP BY md5(text)
),
sampled AS (
  SELECT * FROM deduped WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS token_budget
FROM sampled
GROUP BY lang
""",
    tags=("llm", "flagship"),
)
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the composed training-data prep pipeline in one plan —
    language filter → length window → quality gate (type/token ratio)
    → exact dedup (keep min doc_id) → deterministic 50% hash sample →
    per-language token budget. Every stage is an operator verified
    individually elsewhere; this query proves they compose, and the
    whole thing is still one Catalyst plan with two shuffles (dedup
    groupBy + final groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    filtered = docs.filter(
        F.col("lang").isin("en", "fr", "es")
        & F.col("n_chars").between(50, 2000)
        & (n_uniq * F.lit(1_000_000.0) / n_tok >= 200_000.0)
    ).select("doc_id", "text", "lang", n_tok.cast("long").alias("n_tok"))
    deduped = filtered.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value("lang").alias("lang"),
        F.any_value("n_tok").alias("n_tok"),
    )
    sampled = deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("token_budget"),
    )


@register(
    "text_vocab_topn",
    oracle="""
WITH g AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY token),
t AS (SELECT * FROM f ORDER BY n_occ DESC, token LIMIT 500)
SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS BIGINT) - 1
         AS token_id,
       token, n_occ, n_docs
FROM t
""",
    tags=("llm", "text"),
)
def text_vocab_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: token frequencies + document frequencies,
    top-500 by count with contiguous 0-based ids — the tokenizer-training
    precursor. One shuffle on token (partial-aggregated, so the exchange
    carries |vocab| not |corpus|); the top-500 cut collapses to
    TakeOrderedAndProject, and the id window then runs over 500 rows, not
    the corpus."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.explode(tokens()).alias("token"))
    f = g.groupBy("token").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )
    t = f.orderBy(F.desc("n_occ"), "token").limit(500)
    w = W.orderBy(F.desc("n_occ"), "token")
    return t.select(
        (F.row_number().over(w).cast("long") - 1).alias("token_id"),
        "token",
        "n_occ",
        "n_docs",
    )


@register(
    "text_unigram_logprob",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM v),
e AS (SELECT doc_id, toks[i] AS token, i AS pos
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
j AS (SELECT e.doc_id, e.pos,
             ln(CAST(v.cnt AS DOUBLE) / CAST(n.n AS DOUBLE)) AS lp
      FROM e JOIN v USING (token) CROSS JOIN n),
a AS (SELECT doc_id, list(lp ORDER BY pos) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM j GROUP BY doc_id)
SELECT doc_id, n_tokens,
       floor(-list_reduce(lps, (x, y) -> x + y) * 1e6 / n_tokens) / 1e6
         AS avg_nll_q6
FROM a
""",
    tags=("llm", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring with an in-corpus
    unigram LM: each document's average negative log-likelihood under
    the corpus token distribution (perplexity's monotone equivalent —
    exp() is deliberately not applied, keeping the statistic inside the
    cross-engine-exact ln/division/fold toolbox). Low = typical text,
    high = rare-token soup; CCNet buckets the corpus by exactly this
    signal. Two shuffles: the vocabulary aggregate (tiny; broadcast
    back — even a 50k BPE vocab broadcasts) and the per-doc regroup.
    The per-doc fold runs in token-position order on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("toks"))
    e = t.select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    )
    v = e.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    n = v.agg(F.sum("cnt").alias("n"))
    j = e.join(F.broadcast(v), "token").crossJoin(n).select(
        "doc_id",
        "pos",
        F.log(F.col("cnt").cast("double") / F.col("n").cast("double")).alias("lp"),
    )
    a = j.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "lp"))).alias("lps"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    s = F.aggregate(F.col("lps"), F.lit(0.0), lambda acc, x: acc + x["lp"])
    return a.select(
        "doc_id",
        "n_tokens",
        (F.floor(-s * 1e6 / F.col("n_tokens")) / 1e6).alias("avg_nll_q6"),
    )


@register(
    "text_inverted_index",
    oracle="""
WITH p AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents))
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM p GROUP BY token HAVING COUNT(*) >= 5
""",
    tags=("llm", "text"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the search-engine/BM25 substrate: token →
    sorted posting list of the documents containing it, restricted to
    tokens appearing in ≥5 documents. Within-document dedup happens
    map-side via array_distinct BEFORE the explode, so the single
    shuffle carries only distinct (token, doc_id) pairs — no second
    distinct exchange. At 100 TB the posting lists for stop-word-grade
    tokens skew; production would range-split postings per token (the
    HAVING floor here is the inverse guard: it drops the hapax tail
    that dominates token cardinality)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens())).alias("token"),
    )
    return (
        pairs.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "postings"
            ),
        )
        .filter(F.col("n_docs") >= 5)
        .select("token", "n_docs", "postings")
    )


@register(
    "text_keywords_topk",
    oracle="""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token),
df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM tok GROUP BY token)
SELECT r.doc_id, r.token, r.tf,
       floor(r.tf * ln(r.n / r.doc_freq) * 1e6) / 1e6 AS score_q6
FROM (
  SELECT tf.doc_id, tf.token, tf.tf, df.doc_freq, nn.n,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln(nn.n / df.doc_freq) DESC, tf.token) AS rn
  FROM tf JOIN df USING (token) CROSS JOIN nn) r
WHERE r.rn <= 3
""",
    tags=("llm", "text"),
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by TF·IDF (raw
    term count × ln(N/df), ties broken by token) — the summarization /
    tagging primitive layered on `text_tfidf`'s statistics. Scale
    shape: term frequencies and document frequencies are two
    map-side-combined aggregates off one tokenization; the vocabulary
    joins back broadcast-side and the per-doc top-3 is a window on the
    doc_id partitioning the TF aggregate already produced. The score
    is a single multiply of two identically-derived doubles, floor-
    quantized at output."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # corpus size folded into the plan as a broadcast 1-row aggregate —
    # no driver-side count(), no extra full scan / sync point
    nn = docs.agg(F.count("*").alias("n_docs"))
    tok = docs.select("doc_id", F.explode(tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = tok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("doc_freq")
    )
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq"))
    ranked = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(nn)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(score.desc(), F.col("token"))
            ),
        )
        .filter(F.col("rn") <= 3)
    )
    return ranked.select(
        "doc_id",
        "token",
        "tf",
        (F.floor(score * 1e6) / 1e6).alias("score_q6"),
    )


@register(
    "text_quality_buckets",
    oracle="""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM v),
e AS (SELECT doc_id, toks[i] AS token, i AS pos
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
j AS (SELECT e.doc_id, e.pos,
             ln(CAST(v.cnt AS DOUBLE) / CAST(n.n AS DOUBLE)) AS lp
      FROM e JOIN v USING (token) CROSS JOIN n),
a AS (SELECT doc_id, list(lp ORDER BY pos) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM j GROUP BY doc_id),
s AS (SELECT doc_id, n_tokens,
             floor(-list_reduce(lps, (x, y) -> x + y) * 1e6 / n_tokens) / 1e6
               AS nll
      FROM a),
b AS (SELECT s.doc_id, t.lang, s.n_tokens,
             CAST(ntile(3) OVER (ORDER BY s.nll, s.doc_id) AS BIGINT) AS tercile
      FROM s JOIN t USING (doc_id))
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM b GROUP BY lang, bucket
""",
    tags=("llm", "text"),
)
def text_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's corpus split made actionable: rank every document by its
    unigram-LM negative log-likelihood (composing
    `text_unigram_logprob`'s quantized score), cut the corpus into
    head/middle/tail terciles (ntile over (score, doc_id) so ties are
    deterministic), and report docs + token mass per (lang, bucket) —
    exactly the table a pretraining-data curator reads before choosing
    which terciles to keep. Scale note: the global ntile is a
    single-partition sort of (doc_id, score) pairs only — at 100 TB
    the swap is approx-percentile cutpoints broadcast back, same
    downstream shape."""
    from pyspark.sql.window import Window as W

    scored = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", "n_tokens", F.col("avg_nll_q6").alias("nll")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = scored.join(docs, "doc_id").withColumn(
        "tercile",
        F.ntile(3).over(W.orderBy("nll", "doc_id")).cast("long"),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return ranked.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "text_bpe_pair_stats",
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT w, COUNT(*) AS n FROM words WHERE w != '' GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, n
  FROM wc
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS freq
FROM pairs GROUP BY pair
ORDER BY freq DESC, pair LIMIT 20
""",
    tags=("llm", "text"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training: corpus-weighted
    frequencies of adjacent character pairs, top-20 merge candidates.

    Scale shape: the corpus first collapses to the DISTINCT-WORD table
    with counts (shuffle keyed on word — the vocabulary, not the
    corpus), then character pairs explode from that tiny table only.
    At 100 TB of text the word-count shuffle is the whole cost and is
    map-side combined; the pair stage is vocabulary-sized (~millions),
    which is why real BPE trainers iterate on exactly this layout.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    # NB: 1-char words must be dropped BEFORE sequence(): Spark's
    # sequence(1, 0) yields a DESCENDING [1, 0], not an empty array.
    pairs = wc.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(20)
    )


@register(
    "text_zipf_fit",
    oracle="""
WITH wc AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w != '' GROUP BY w
), ranked AS (
  SELECT row_number() OVER (ORDER BY freq DESC, w) AS rank, freq
  FROM wc
), pts AS (
  SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(freq) * 1000000) AS BIGINT) AS y
  FROM ranked WHERE rank <= 100
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       floor((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1000000.0
             / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))) / 1000000.0
         AS zipf_slope_q6
FROM pts
""",
    tags=("llm", "text", "stats"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: OLS slope of ln(freq) on
    ln(rank) for the top-100 words (a healthy natural-language corpus
    slopes near -1; a synthetic or boilerplate-heavy one doesn't — a
    cheap corpus-health check for training-data pipelines).

    Determinism: ln() of identical integers is correctly rounded on
    both engines; the log points are quantized to integer micro-units
    BEFORE the OLS sums (micro, not nano: the OLS cross-products of
    nano-units overflow int64), so every Σ is exact int64 arithmetic
    and the single closed-form division is floored. One word-count
    shuffle (map-side combined), a parallel top-100
    (TakeOrderedAndProject), one scalar output row."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # TakeOrderedAndProject trims the vocab to 100 rows in parallel
    # BEFORE the (single-partition) global rank window ever runs
    top = wc.orderBy(F.col("freq").desc(), "w").limit(100)
    ranked = top.select(
        F.row_number().over(W.orderBy(F.col("freq").desc(), "w")).alias("rank"),
        "freq",
    )
    pts = ranked.select(
        F.round(F.log("rank") * 1_000_000).cast("long").alias("x"),
        F.round(F.log("freq") * 1_000_000).cast("long").alias("y"),
    )
    n = F.count("*")
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    return pts.agg(
        n.cast("long").alias("n_points"),
        (F.floor(num * 1_000_000.0 / den) / 1_000_000.0).alias("zipf_slope_q6"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bi AS (
  SELECT doc_id, i, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bi GROUP BY w1, w2),
pc AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cp FROM bi GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vs
      FROM (SELECT unnest(toks) AS token FROM t)),
j AS (
  SELECT bi.doc_id, bi.i,
         ln((CAST(bc.cb AS DOUBLE) + 1.0) / (CAST(pc.cp AS DOUBLE) + CAST(v.vs AS DOUBLE))) AS lp
  FROM bi JOIN bc USING (w1, w2) JOIN pc USING (w1) CROSS JOIN v
),
a AS (SELECT doc_id, list(lp ORDER BY i) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams
      FROM j GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       floor(-list_reduce(lps, (x, y) -> x + y) * 1e6 / n_bigrams) / 1e6
         AS avg_nll_q6
FROM a
""",
    tags=("llm", "text"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with add-one smoothing: each document's
    average negative conditional log-likelihood ln P(w_i | w_{i-1})
    under the in-corpus bigram model — one order up from
    `text_unigram_logprob`, and the statistic that separates
    plausible-sequence text from bag-of-frequent-words soup (a doc of
    common tokens in impossible orders scores well under a unigram LM
    and badly here).

    Scale shape: the bigram stream is an explode of zipped shifted
    slices (pure codegen, as in MinHash shingling); bigram counts and
    prefix counts are two map-side-combined aggregates over it, both
    vocabulary²-bounded and broadcast back; the per-doc fold runs in
    position order on both engines (associativity-proof determinism).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = tokens()
    base = docs.select("doc_id", words.alias("_w"), F.size(words).alias("_n"))
    bi = (
        base.filter(F.col("_n") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.slice("_w", 1, F.col("_n") - 1),
                    F.slice("_w", 2, F.col("_n") - 1),
                )
            ).alias("pos", "_z"),
        )
        .select("doc_id", "pos", F.col("_z.0").alias("w1"), F.col("_z.1").alias("w2"))
        # three diverging consumers (bigram counts, prefix counts, the
        # scoring join): checkpoint so the scan + bigram explode run
        # once (round-6 scan audit; the remaining second scan is the
        # text-only vocab-size scalar)
        .localCheckpoint(eager=False)
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cb"))
    pc = bi.groupBy("w1").agg(F.count("*").cast("long").alias("cp"))
    vs = (
        base.select(F.explode("_w").alias("token"))
        .agg(F.countDistinct("token").cast("long").alias("vs"))
    )
    lp = F.log(
        (F.col("cb").cast("double") + F.lit(1.0))
        / (F.col("cp").cast("double") + F.col("vs").cast("double"))
    )
    j = (
        bi.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(pc), ["w1"])
        .crossJoin(vs)
        .select("doc_id", "pos", lp.alias("lp"))
    )
    a = j.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "lp"))).alias("lps"),
        F.count("*").cast("long").alias("n_bigrams"),
    )
    s = F.aggregate(F.col("lps"), F.lit(0.0), lambda acc, x: acc + x["lp"])
    return a.select(
        "doc_id",
        "n_bigrams",
        (F.floor(-s * 1e6 / F.col("n_bigrams")) / 1e6).alias("avg_nll_q6"),
    )


@register(
    "text_lang_id_confusion",
    oracle=f"""
WITH pred AS ({_LANG_ID_ORACLE}),
cm AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), t AS (
  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS label_total FROM cm GROUP BY 1
)
SELECT cm.labeled_lang, cm.predicted_lang, cm.n, t.label_total,
       floor(cm.n * 1e8 / t.label_total) / 1e6 AS pct_of_label_q6
FROM cm JOIN t USING (labeled_lang)
""",
    tags=("llm", "text", "ml"),
)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against
    the labeled language — the evaluation every classifier op needs
    next to it (row-normalized percentages per true label, integer
    cross-multiplied). Composes `text_lang_id` unchanged; the matrix
    aggregate is ≤ |langs|² rows and the per-label totals join back
    broadcast-small."""
    pred = text_lang_id(spark, sf_dir)
    cm = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    t = cm.groupBy("labeled_lang").agg(F.sum("n").cast("long").alias("label_total"))
    return cm.join(F.broadcast(t), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n",
        "label_total",
        (F.floor(F.col("n") * 1e8 / F.col("label_total")) / 1e6).alias(
            "pct_of_label_q6"
        ),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016), first 3 merges
# unrolled: the canonical subword-vocabulary construction every LLM
# pipeline runs before tokenization. Pair statistics are recomputed
# after each merge (the part that makes BPE iterative, not a one-shot
# aggregate); the merge itself is the greedy left-to-right
# non-overlapping rewrite, expressed as an array fold identically on
# both engines.

_BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    return f"""
p{r} AS (
  SELECT a, b, CAST(SUM(wcnt) AS BIGINT) AS cnt
  FROM (SELECT wcnt, s[i] AS a, s[i + 1] AS b
        FROM (SELECT wcnt, s, unnest(range(1, len(s))) AS i FROM w{r}))
  GROUP BY a, b),
best{r} AS (SELECT a AS ma, b AS mb, cnt FROM p{r}
            ORDER BY cnt DESC, a, b LIMIT 1),
w{r + 1} AS (SELECT token, wcnt,
                  CASE WHEN len(s) <= 1 THEN s
                       ELSE list_reduce(list_transform(s, x -> [x]),
                              (acc, x) -> CASE WHEN acc[-1] = ma AND x[1] = mb
                                   THEN acc[1:len(acc) - 1] || [ma || mb]
                                   ELSE acc || x END) END AS s
             FROM w{r} CROSS JOIN best{r})"""


@register(
    "tokenizer_bpe_merges",
    oracle="WITH v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS wcnt\n"
    "      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)\n"
    "      GROUP BY token),\n"
    "w0 AS (SELECT token, wcnt, regexp_extract_all(token, '.') AS s FROM v),"
    + ",".join(_bpe_round_sql(r) for r in range(_BPE_ROUNDS))
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, ma AS left_sym, "
        f"mb AS right_sym, cnt AS pair_count FROM best{r}"
        for r in range(_BPE_ROUNDS)
    ),
    tags=("llm", "text", "iterative"),
)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merges learned from the corpus: per round, the
    most frequent adjacent symbol pair weighted by word frequency
    (tie → lexicographic), then every word rewritten with that pair
    merged greedy-left-non-overlapping, then pair statistics
    recomputed over the NEW symbols — the genuinely iterative part of
    tokenizer training, unrolled.

    Scale shape: the corpus-scale work is ONE token-count shuffle
    (map-side combined, |vocab| rows survive); every merge round then
    runs on the vocabulary table, which is corpus-size-independent
    (even web-scale corpora have ~1e7 distinct words), with the
    argmax as a broadcast 1-row min-struct aggregate — no collect to
    the driver; the symbol-table checkpoint in _bpe_learn runs its
    jobs while the DataFrame is built (ARCHITECTURE.md, plan-reuse
    item 2). The greedy rewrite is an array fold, bit-identical on
    both engines (['a','a','a'] with pair (a,a) → ['aa','a'])."""
    w, bests = _bpe_learn(spark, sf_dir)
    out = None
    for r, best in enumerate(bests):
        row = best.select(
            F.lit(r + 1).cast("long").alias("merge_rank"),
            F.col("ma").alias("left_sym"),
            F.col("mb").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionAll(row)
    # an empty corpus learns no merges: the per-round best-pair 1-row
    # aggregates still emit NULL rows (global agg over empty) that the
    # oracle's CTEs never produce — drop them
    return out.filter(F.col("left_sym").isNotNull())


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer: returns (symbol table after _BPE_ROUNDS
    merges, list of per-round best-pair 1-row DataFrames)."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("wcnt"))
    )
    # |vocab|-row symbol table with DIVERGING consumers (each round's
    # pair stats AND the next round's rewrite) — checkpointed so the
    # corpus-scale token-count shuffle above runs once, not once per
    # consumer per round (the mining_assoc_rules rule; identical
    # self-join subtrees would NOT need this, diverging ones do). Under
    # AQE that shuffle runs while the DataFrame is built
    # (ARCHITECTURE.md, plan-reuse item 2)
    w = v.select(
        "token", "wcnt", F.expr("regexp_extract_all(token, '.', 0)").alias("s")
    ).localCheckpoint(eager=False)
    merge_expr = (
        "CASE WHEN size(s) <= 1 THEN s ELSE aggregate(s, "
        "CAST(array() AS array<string>), (acc, x) -> "
        "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = ma AND x = mb "
        "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ma, mb))) "
        "ELSE concat(acc, array(x)) END) END"
    )
    bests = []
    for _ in range(_BPE_ROUNDS):
        pairs = (
            w.filter(F.size("s") >= 2)
            .select(
                "wcnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2), "
                        "i -> named_struct('a', s[i], 'b', s[i + 1]))"
                    )
                ).alias("p"),
            )
            .select("wcnt", "p.a", "p.b")
        )
        pstat = pairs.groupBy("a", "b").agg(F.sum("wcnt").cast("long").alias("cnt"))
        best = (
            pstat.agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("a").alias("ma"),
                        F.col("b").alias("mb"),
                    )
                ).alias("m")
            )
            .select(
                F.col("m.ma").alias("ma"),
                F.col("m.mb").alias("mb"),
                (-F.col("m.nc")).cast("long").alias("cnt"),
            )
        )
        bests.append(best)
        w = w.crossJoin(best).select(
            "token", "wcnt", F.expr(merge_expr).alias("s")
        )
    return w, bests


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
# algorithm): guarantee-bearing local fingerprint selection. Every
# match of length >= k + w - 1 tokens between two documents shares at
# least one selected fingerprint; density is ~2/(w+1) of all k-gram
# hashes. Complements the global signatures (MinHash/SimHash): those
# bound whole-document similarity, winnowing localizes shared spans.

_WIN_K = 3  # token k-gram size
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_HS = gram_hash_sql(_WIN_K)  # the k-gram hashes `hs` of `toks`


def _winnow_let(hs: str, fps: str, row: str):
    """Generator over the let-bound chain toks → hs → fps: each array
    is a single-element transform lambda variable, bound once per row,
    and inline() exposes the `row` struct's fields as plain columns
    (ARCHITECTURE.md "Text substrate")."""
    return F.expr(
        f"inline(transform(array({TOKENS_SQL}), toks -> "
        f"transform(array({hs}), hs -> "
        f"transform(array({fps}), fps -> {row})[0])[0]))"
    )


@register(
    "text_winnow_fingerprints",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
h AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE WHEN len(toks) >= {_WIN_K}
                  THEN list_transform(range(1, len(toks) - {_WIN_K} + 2),
                         i -> CAST('0x' || substr(md5(array_to_string(
                                  list_slice(toks, i, i + {_WIN_K - 1}), ' ')),
                                  1, 15) AS BIGINT))
                  ELSE CAST([] AS BIGINT[]) END AS hs
      FROM t),
w AS (SELECT doc_id, n_tokens, CAST(len(hs) AS BIGINT) AS n_grams,
             CASE WHEN len(hs) >= {_WIN_W}
                  THEN list_sort(list_distinct(list_transform(
                         range(0, len(hs) - {_WIN_W} + 1),
                         p -> CAST(p + {_WIN_W}
                                   - list_position(list_reverse(
                                       hs[p + 1:p + {_WIN_W}]),
                                       list_min(hs[p + 1:p + {_WIN_W}]))
                                   AS VARCHAR)
                              || ':' || CAST(list_min(hs[p + 1:p + {_WIN_W}])
                                             AS VARCHAR))))
                  ELSE CAST([] AS VARCHAR[]) END AS fps
      FROM h)
SELECT doc_id, n_tokens, n_grams,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       md5(COALESCE(array_to_string(fps, ','), '')) AS fingerprint_digest
FROM w
""",
    tags=("llm", "text", "dedup"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint set per document: 60-bit token-3-gram
    hashes, windows of 4, per-window minimum with the rightmost-on-tie
    rule, (position:hash) selections deduplicated across overlapping
    windows — verified down to an md5 digest of the sorted selection
    set, so the oracle pins every selected fingerprint exactly.

    Entirely per-row array work — zero shuffles, runs at scan speed;
    at 100 TB the fingerprint sets feed a (hash → postings) index
    exactly like text_inverted_index, giving the MOSS guarantee: any
    shared span of ≥ k+w−1 tokens surfaces at least one shared
    fingerprint. Window minima are recomputed per offset (O(w) per
    position — the deque trick is pointless inside a w=4 window).

    The toks → hs → fps chain is let-bound (_winnow_let): as stacked
    projections it was an O(n²)-md5 blowup per document that made
    this scan the slowest query in the registry."""
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        f"CASE WHEN size(toks) >= {_WIN_K} THEN {_WIN_HS} "
        "ELSE CAST(array() AS array<bigint>) END"
    )
    fps = (
        f"CASE WHEN size(hs) >= {_WIN_W} THEN "
        f"array_sort(array_distinct(transform(sequence(0, size(hs) - {_WIN_W}), "
        f"p -> concat(CAST(p + {_WIN_W} - array_position(reverse(slice(hs, p + 1, {_WIN_W})), "
        f"array_min(slice(hs, p + 1, {_WIN_W}))) AS STRING), ':', "
        f"CAST(array_min(slice(hs, p + 1, {_WIN_W})) AS STRING))))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    row = (
        "struct(CAST(size(toks) AS BIGINT) AS n_tokens, "
        "CAST(size(hs) AS BIGINT) AS n_grams, "
        "CAST(size(fps) AS BIGINT) AS n_fingerprints, "
        "md5(concat_ws(',', fps)) AS fingerprint_digest)"
    )
    return docs.select("doc_id", _winnow_let(hs, fps, row))


@register(
    "dedup_winnow_pairs",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
h AS (SELECT doc_id, list_transform(range(1, len(toks) - {_WIN_K} + 2),
        i -> CAST('0x' || substr(md5(array_to_string(
                 list_slice(toks, i, i + {_WIN_K - 1}), ' ')), 1, 15) AS BIGINT))
          AS hs
      FROM t WHERE len(toks) >= {_WIN_K + _WIN_W - 1}),
w AS (SELECT doc_id, list_distinct(list_transform(
        range(0, len(hs) - {_WIN_W} + 1),
        p -> list_min(hs[p + 1:p + {_WIN_W}]))) AS fps FROM h),
e AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS fp FROM w)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       floor(COUNT(*) * 1000000.0 / LEAST(MIN(a.n_fp), MIN(b.n_fp)))
         / 1000000.0 AS overlap_q6
FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 3
""",
    tags=("llm", "text", "dedup"),
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match detection on the winnowed fingerprints: doc
    pairs sharing ≥ 3 selected k-gram hashes, with the containment
    ratio shared/min(|fps|). Candidate generation is the inverted
    fingerprint index joined on the HASH key — only docs sharing a
    fingerprint ever meet (bucket join, the text_inverted_index
    shape); winnowing's ~2/(w+1) density means the postings table is
    a fraction of the full k-gram index that PPJoin-style containment
    (dedup_containment) would build, which is exactly why
    fingerprint-based plagiarism detectors scale to web corpora. The
    per-window minima here drop the position tag (matching is by
    hash; positions only matter for span display). The toks → hs →
    fps chain is let-bound (_winnow_let)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = (
        f"array_distinct(transform(sequence(0, size(hs) - {_WIN_W}), "
        f"p -> array_min(slice(hs, p + 1, {_WIN_W}))))"
    )
    row = "struct(CAST(size(fps) AS BIGINT) AS n_fp, fps AS fps)"
    w = docs.filter(F.size(tokens()) >= _WIN_K + _WIN_W - 1).select(
        "doc_id", _winnow_let(_WIN_HS, fps, row)
    )
    e = w.select("doc_id", "n_fp", F.explode("fps").alias("fp"))
    a = e.select(
        F.col("fp").alias("fp"),
        F.col("doc_id").alias("doc_a"),
        F.col("n_fp").alias("na"),
    )
    b = e.select(
        F.col("fp").alias("fp"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_fp").alias("nb"),
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .filter(F.col("n_shared") >= 3)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared",
        (
            F.floor(
                F.col("n_shared") * 1_000_000.0 / F.least(F.col("na"), F.col("nb"))
            )
            / 1_000_000.0
        ).alias("overlap_q6"),
    )


@register(
    "tokenizer_bpe_encode",
    oracle="WITH v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS wcnt\n"
    "      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)\n"
    "      GROUP BY token),\n"
    "w0 AS (SELECT token, wcnt, regexp_extract_all(token, '.') AS s FROM v),"
    + ",".join(_bpe_round_sql(r) for r in range(_BPE_ROUNDS))
    + f"""
, enc AS (SELECT token, CAST(len(s) AS BIGINT) AS n_sub,
                 CAST(len(token) AS BIGINT) AS n_chars FROM w{_BPE_ROUNDS})
SELECT d.doc_id,
       CAST(SUM(e.n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(e.n_chars) AS BIGINT) AS n_chars,
       floor(SUM(e.n_chars) * 1000000.0 / SUM(e.n_sub)) / 1000000.0
         AS chars_per_subword_q6
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) d
JOIN enc e USING (token) GROUP BY d.doc_id
""",
    tags=("llm", "text", "iterative"),
)
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus: per-document
    subword count under the 3-merge vocabulary, with the
    chars-per-subword compression ratio — the number a tokenizer
    team watches as merges accumulate (→ ~4 chars/token for mature
    English BPE). Encoding is a JOIN, not a re-segmentation: the
    trainer's symbol table already holds every distinct word's final
    segmentation, so the corpus side just explodes tokens and joins
    the broadcast vocab (corpus-size-independent) — per-doc sums are
    one map-side-combined groupBy. This is exactly how production
    tokenizer application scales: vocab broadcast, text streamed."""
    w, _ = _bpe_learn(spark, sf_dir)
    enc = w.select(
        "token",
        F.size("s").cast("long").alias("n_sub"),
        F.length("token").cast("long").alias("n_chars"),
    )
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.explode(tokens()).alias("token"))
    return (
        d.join(F.broadcast(enc), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            # try_divide: an empty-text doc's only "token" is '' with 0
            # subwords — DuckDB yields NULL, ANSI Spark would crash
            (
                F.floor(
                    F.try_divide(F.sum("n_chars") * 1_000_000.0, F.sum("n_sub"))
                )
                / 1_000_000.0
            ).alias("chars_per_subword_q6"),
        )
    )


# ---------------------------------------------------------------------------
# Lexicon-based sentiment scoring (the EDBT 2016 "Large Scale
# Sentiment Analysis with Spark" shape: broadcast lexicon join +
# per-document aggregate). The lexicon is a fixed word→polarity map
# over the corpus vocabulary (fast/small wins, slow/big costs — the
# perf-review reading of this corpus), embedded as literals so both
# engines see the identical dictionary.

_SENT_LEX = {"fast": 1, "small": 1, "key": 1, "slow": -1, "big": -1, "dup": -1}


@register(
    "text_sentiment_lexicon",
    oracle=f"""
WITH lex(token, pol) AS (VALUES {", ".join(f"('{w}', {p})" for w, p in sorted(_SENT_LEX.items()))}),
e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
j AS (SELECT e.doc_id, COALESCE(lex.pol, 0) AS pol
      FROM e LEFT JOIN lex USING (token)),
a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(pol) AS BIGINT) AS polarity
      FROM j GROUP BY doc_id)
SELECT doc_id, n_tokens, polarity,
       floor(polarity * 1000000.0 / n_tokens) / 1000000.0 AS sentiment_q6,
       CASE WHEN polarity > 0 THEN 'pos' WHEN polarity < 0 THEN 'neg'
            ELSE 'neu' END AS label
FROM a
""",
    tags=("llm", "text"),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexicon sentiment: polarity sum over a broadcast
    word→{{-1,+1}} dictionary, normalized by token count, with the
    three-way label cut. The classic distributed-sentiment shape:
    lexicon broadcasts (any real lexicon is a few MB), the corpus
    streams once, per-doc regroup is one map-side-combined integer
    aggregate — exactly the EDBT'16 Spark pipeline reduced to its
    dataflow. All-integer arithmetic until one final quantized ratio."""
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        sorted(_SENT_LEX.items()), schema="token string, pol int"
    )
    e = docs.select("doc_id", F.explode(tokens()).alias("token"))
    j = e.join(F.broadcast(lex), "token", "left").select(
        "doc_id", F.coalesce("pol", F.lit(0)).alias("pol")
    )
    a = j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("pol").cast("long").alias("polarity"),
    )
    return a.select(
        "doc_id",
        "n_tokens",
        "polarity",
        (F.floor(F.col("polarity") * 1_000_000.0 / F.col("n_tokens")) / 1_000_000.0).alias(
            "sentiment_q6"
        ),
        F.when(F.col("polarity") > 0, "pos")
        .when(F.col("polarity") < 0, "neg")
        .otherwise("neu")
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# Trajectory similarity (cf. REPOSE, ICDE 2021 — distributed top-k
# trajectory search with reference-point blocking): users' event-type
# journeys as sequences, near-identical journeys found by edit
# distance within blocks keyed on (length bucket, sequence prefix) —
# the reference-point idea reduced to its relational core: a cheap
# partition key that provably co-locates any pair within distance d.

_TRAJ_MAXLEN = 8
_TRAJ_MAXD = 3


@register(
    "sim_trajectory_pairs",
    oracle=f"""
WITH t AS (
  SELECT user_id,
         substr(string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id),
                1, {_TRAJ_MAXLEN}) AS traj
  FROM events GROUP BY user_id),
b AS (SELECT user_id, traj, len(traj) // 5 AS lb, substr(traj, 1, 1) AS p2
      FROM t)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(len(a.traj) AS BIGINT) AS len_a, CAST(len(b.traj) AS BIGINT) AS len_b,
       CAST(levenshtein(a.traj, b.traj) AS BIGINT) AS edit_dist
FROM b a JOIN b b ON a.lb = b.lb AND a.p2 = b.p2 AND a.user_id < b.user_id
WHERE levenshtein(a.traj, b.traj) <= {_TRAJ_MAXD}
""",
    tags=("llm", "similarity", "events"),
)
def sim_trajectory_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User pairs whose event-type journeys (first 8
    events, one char per type, strictly (ts, event_id)-ordered) are
    within edit distance 3. Blocking key = (⌊len/5⌋,
    1-char prefix): only same-block users are ever compared, so pair
    generation is an equi join bounded by block size — the trajectory
    analog of the MinHash band trick (with the usual blocking recall
    caveat: a pair differing in its first event is missed; REPOSE
    fixes that with multiple reference points, i.e. several blocking
    keys unioned). The sequence build is one user-keyed shuffle with
    an ordered in-group fold, identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    t = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias(
                "s"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.substring(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("s")), lambda x: x["c"]
                    ),
                    "",
                ),
                1,
                _TRAJ_MAXLEN,
            ).alias("traj")
        )
    )
    b = t.select(
        "user_id",
        "traj",
        (F.length("traj") / 5).cast("long").alias("lb"),
        F.substring("traj", 1, 1).alias("p2"),
    )
    a2 = b.select(
        F.col("lb"), F.col("p2"), F.col("user_id").alias("user_a"), F.col("traj").alias("ta")
    )
    b2 = b.select(
        F.col("lb"), F.col("p2"), F.col("user_id").alias("user_b"), F.col("traj").alias("tb")
    )
    d = F.levenshtein(F.col("ta"), F.col("tb"))
    return (
        a2.join(b2, ["lb", "p2"])
        .filter(F.col("user_a") < F.col("user_b"))
        .filter(d <= _TRAJ_MAXD)
        .select(
            "user_a",
            "user_b",
            F.length("ta").cast("long").alias("len_a"),
            F.length("tb").cast("long").alias("len_b"),
            d.cast("long").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are
# maximal stop-word-free token runs (capped at 4 words, the standard
# setting), each word scores degree/frequency over the phrase
# co-occurrence graph, and a phrase scores the sum of its word scores.

_RAKE_STOPS = "('the', 'a')"  # the corpus's function words
_RAKE_MAX_PHRASE = 4
_RAKE_TOPN = 20


@register(
    "text_rake_keywords",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
             CASE WHEN toks[i] IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
ph AS (SELECT doc_id, pos, tok, is_stop,
              SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
       FROM e),
pw0 AS (SELECT doc_id, pid, pos, tok FROM ph WHERE is_stop = 0),
plen AS (SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
         FROM pw0 GROUP BY doc_id, pid),
pw AS (SELECT pw0.* FROM pw0 JOIN plen USING (doc_id, pid)
       WHERE plen.plen <= {_RAKE_MAX_PHRASE}),
ws AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
              CAST(SUM(plen) AS BIGINT) AS degree
       FROM pw JOIN plen USING (doc_id, pid) GROUP BY tok),
scored AS (SELECT pw.doc_id, pw.pid,
                  CAST(SUM(floor(ws.degree * 1000000.0 / ws.freq)) AS BIGINT)
                    AS score_u,
                  array_to_string(list(pw.tok ORDER BY pw.pos), ' ') AS phrase
           FROM pw JOIN ws USING (tok) GROUP BY pw.doc_id, pw.pid)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur,
       CAST(MAX(score_u) AS BIGINT) AS score_u
FROM scored GROUP BY phrase
ORDER BY MAX(score_u) DESC, phrase LIMIT {_RAKE_TOPN}
""",
    tags=("llm", "text"),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 RAKE keyphrases: stop-word-delimited runs ≤ 4
    words, word score = degree/freq over the phrase graph (quantized
    per word, integer-summed per phrase — no float accumulation
    order), phrase score = max over occurrences. Everything is
    explode + equi-keyed aggregates: phrase segmentation is a per-doc
    cumulative window over positions, word stats shuffle |vocab| rows,
    and the final cut is TakeOrderedAndProject. RAKE's charm at 100 TB
    is that the phrase graph never materializes — degree is just
    Σ plen per word."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("toks"))
    e = t.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).withColumn(
        "is_stop",
        F.when(F.expr(f"tok IN {_RAKE_STOPS}"), 1).otherwise(0),
    )
    wcum = W.partitionBy("doc_id").orderBy("pos")
    ph = e.withColumn("pid", F.sum("is_stop").over(wcum))
    # checkpoints (round-6 scan audit): pw0's explode+window subtree
    # feeds both the phrase-length aggregate and the join back; pw then
    # feeds both word stats and phrase scoring — without them the
    # documents scan re-runs 4x
    pw0 = (
        ph.filter(F.col("is_stop") == 0)
        .select("doc_id", "pid", "pos", "tok")
        .localCheckpoint(eager=False)
    )
    plen = pw0.groupBy("doc_id", "pid").agg(F.count("*").cast("long").alias("plen"))
    pw = (
        pw0.join(plen, ["doc_id", "pid"])
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
        .localCheckpoint(eager=False)
    )
    ws = pw.groupBy("tok").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    word_score = F.floor(F.col("degree") * 1_000_000.0 / F.col("freq"))
    scored = (
        pw.join(ws, "tok")
        .groupBy("doc_id", "pid")
        .agg(
            F.sum(word_score).cast("long").alias("score_u"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occur"),
            F.max("score_u").cast("long").alias("score_u"),
        )
        .orderBy(F.col("score_u").desc(), "phrase")
        .limit(_RAKE_TOPN)
    )


# ---------------------------------------------------------------------------
# Vocabulary-health statistics: hapax legomena per language slice.


@register(
    "text_hapax_vocab",
    oracle="""
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
f AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax,
       CAST(COUNT(*) FILTER (WHERE c = 2) AS BIGINT) AS dis,
       floor(COUNT(*) FILTER (WHERE c = 1) * 1000000.0 / COUNT(*)) / 1000000.0
         AS hapax_ratio_q6,
       floor(SUM(c) * 1000000.0 / COUNT(*)) / 1000000.0 AS tokens_per_type_q6
FROM f GROUP BY lang
""",
    tags=("llm", "text", "quality"),
)
def text_hapax_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary health: type count, token count, hapax
    and dis legomena (frequency 1 and 2), hapax ratio, mean tokens per
    type. A corpus whose hapax ratio collapses is template/boilerplate
    heavy; one that explodes is OCR noise or mojibake — either way the
    Zipf tail is the first thing a data-quality pass inspects
    (companion to text_zipf_fit, which fits the head).

    Shape: explode → ONE (lang, token)-keyed map-side-combined count,
    then a |lang|-sized rollup — both equi-keyed shuffles; the second
    input is |vocabulary|, not corpus-sized. Integer ratios,
    floor-quantized once."""
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select("lang", F.explode(tokens()).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return f.groupBy("lang").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.count_if(F.col("c") == 1).cast("long").alias("hapax"),
        F.count_if(F.col("c") == 2).cast("long").alias("dis"),
        (F.floor(F.count_if(F.col("c") == 1) * 1_000_000.0 / F.count("*")) / 1_000_000.0)
        .alias("hapax_ratio_q6"),
        (F.floor(F.sum("c") * 1_000_000.0 / F.count("*")) / 1_000_000.0)
        .alias("tokens_per_type_q6"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1999's
# interpolated form) — the standard n-gram LM estimator: absolute
# discounting plus a continuation-probability backoff that asks "in how
# many distinct contexts does this word appear?" rather than "how often?"

_KN_D = 0.75  # absolute discount (exactly representable in binary)


@register(
    "text_bigram_kneser_ney",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bi GROUP BY w1, w2),
pre AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp,
               CAST(COUNT(*) AS BIGINT) AS n1p
        FROM bc GROUP BY w1),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1d FROM bc GROUP BY w2),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tbt FROM bc)
SELECT bc.w1, bc.w2, bc.cb,
       floor((
           (CAST(bc.cb AS DOUBLE) - {_KN_D}) / CAST(pre.cp AS DOUBLE)
         + {_KN_D} * CAST(pre.n1p AS DOUBLE) / CAST(pre.cp AS DOUBLE)
           * CAST(cont.n1d AS DOUBLE) / CAST(tt.tbt AS DOUBLE)
       ) * 1000000.0) / 1000000.0 AS p_kn_q6
FROM bc JOIN pre USING (w1) JOIN cont USING (w2) CROSS JOIN tt
""",
    tags=("llm", "text"),
)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM trained over the corpus — the
    estimator that made n-gram LMs competitive and still the baseline
    scorer in data-quality pipelines: p(w2|w1) = max(c(w1w2)-D, 0)/c(w1·)
    + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··), D = 0.75 (observed bigrams
    only, so the max() never clamps). Shape: ONE corpus pass builds the
    bigram-count table (map-side combined, vocabulary²-bounded), which
    is checkpointed once (under AQE its jobs run while the DataFrame is
    built: ARCHITECTURE.md, plan-reuse item 2) and feeds every
    statistic — prefix totals AND distinct-continuation counts come from a single groupBy
    (SUM + COUNT over the same key), context diversity from a groupBy
    on w2, and the type total from a 1-row aggregate; all four join
    back as broadcasts. The corpus-sized stream is touched exactly
    once; everything downstream is vocabulary-sized. Probabilities are
    ratios of exact integer counts in an identical expression shape on
    both engines, floor-quantized once."""
    docs = load_table(spark, sf_dir, "documents")
    words = tokens()
    base = docs.select("doc_id", words.alias("_w"), F.size(words).alias("_n"))
    bi = (
        base.filter(F.col("_n") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("_w", 1, F.col("_n") - 1),
                    F.slice("_w", 2, F.col("_n") - 1),
                )
            ).alias("_z")
        )
        .select(F.col("_z.0").alias("w1"), F.col("_z.1").alias("w2"))
    )
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cb"))
        # four diverging consumers (prefix stats, continuation stats,
        # type total, scoring join): checkpoint so the corpus explode
        # and bigram aggregate run once (scan-audit discipline)
        .localCheckpoint(eager=False)
    )
    pre = bc.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cp"),
        F.count("*").cast("long").alias("n1p"),
    )
    cont = bc.groupBy("w2").agg(F.count("*").cast("long").alias("n1d"))
    tt = bc.agg(F.count("*").cast("long").alias("tbt"))
    p = (
        (F.col("cb").cast("double") - _KN_D) / F.col("cp").cast("double")
        + F.lit(_KN_D)
        * F.col("n1p").cast("double")
        / F.col("cp").cast("double")
        * F.col("n1d").cast("double")
        / F.col("tbt").cast("double")
    )
    return (
        bc.join(F.broadcast(pre), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(tt)
        .select(
            "w1",
            "w2",
            "cb",
            (F.floor(p * 1_000_000.0) / 1_000_000.0).alias("p_kn_q6"),
        )
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "join", "window", "query")  # FIXED query registry
_BM25_TOPK = 10
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _bm25_substrate(
    docs: DataFrame, terms: tuple[str, ...]
) -> tuple[DataFrame, DataFrame]:
    """(stats, tf) for the BM25 scorer family from ONE documents scan.

    The r9 form derived the corpus stats aggregate (n_docs, Σdl) and
    the (doc, term) tf table from two independent reads of `documents`
    — two parquet scans, two tokenizes (the split is the expensive
    part). Here one narrow per-doc projection (doc_id, dl,
    matched-terms array) is localCheckpointed and BOTH
    consumers read it: filter() keeps every row (empty match array,
    never a dropped doc), so n_docs/Σdl over the projection equal the
    full-corpus stats bit-for-bit, and explode(mt) emits exactly the
    rows the old explode-then-isin kept. The checkpoint holds three
    tiny columns, never the text. tf keeps its own checkpoint — it
    still feeds both the df aggregate and the scorer. Under AQE both
    checkpoints run their jobs while the DataFrame is built
    (ARCHITECTURE.md, plan-reuse item 2)."""
    toks = tokens()
    perdoc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.filter(toks, lambda t: t.isin(*terms)).alias("mt"),
    ).localCheckpoint(eager=False)
    stats = perdoc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        perdoc.select("doc_id", "dl", F.explode("mt").alias("token"))
        .groupBy("doc_id", "token")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.max("dl").cast("long").alias("dl"),
        )
        .localCheckpoint(eager=False)
    )
    return stats, tf


@register(
    "text_bm25_topk",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM d),
tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS token FROM d),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
              CAST(MAX(dl) AS BIGINT) AS dl
       FROM tok WHERE token IN ({_BM25_TERMS_SQL})
       GROUP BY doc_id, token),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
sc AS (
  SELECT tf.doc_id,
         CAST(floor(ln(1.0 + (CAST(st.n_docs - df.df AS DOUBLE) + 0.5)
                           / (CAST(df.df AS DOUBLE) + 0.5))
              * (tf.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
              / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                 * (1.0 - CAST({_BM25_B} AS DOUBLE)
                    + CAST({_BM25_B} AS DOUBLE) * tf.dl
                      / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
              * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN df USING (token) CROSS JOIN st),
g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
             CAST(SUM(micro) AS BIGINT) AS sm
      FROM sc GROUP BY doc_id)
SELECT doc_id, n_hit_terms, sm / 1000000.0 AS score_q6
FROM g ORDER BY sm DESC, doc_id LIMIT {_BM25_TOPK}
""",
    tags=("llm", "text"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (Robertson & Walker; k1=1.2, b=0.75) — the
    lexical-search scorer layered on the `text_inverted_index`
    substrate: top-10 documents for a FIXED query-term registry
    (bounded by construction — never a fraction of the corpus, per the
    embed_decontaminate lesson). Shape: doc length comes from
    size(split(text)) at scan time with NO explode-shuffle; the explode
    is filtered to query terms BEFORE the (doc, term) aggregate, so the
    only corpus-scale shuffle carries just query-term hits; df and the
    (N, Σdl) corpus stats are tiny broadcast sides; the final top-10 is
    TakeOrderedAndProject. Determinism: each per-term BM25 score is
    floor-quantized to integer micros BEFORE the per-doc sum (float
    addition order never matters), one identical IEEE expression tree
    on both engines; ties broken by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    stats, tf = _bm25_substrate(docs, _BM25_TERMS)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = (
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0)
                - F.lit(_BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / avgdl
            )
        )
    )
    sc = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.floor(score * 1_000_000.0).cast("long").alias("micro"),
        )
    )
    g = sc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hit_terms"),
        F.sum("micro").cast("long").alias("sm"),
    )
    return (
        g.orderBy(F.desc("sm"), "doc_id")
        .limit(_BM25_TOPK)
        .select(
            "doc_id", "n_hit_terms", (F.col("sm") / 1_000_000.0).alias("score_q6")
        )
    )


# --- retrieval evaluation (NDCG / MRR / recall@k) ---------------------------
# Fixed multi-query registry over the BM25 substrate: each query is a
# small term set; graded relevance = number of DISTINCT query terms a
# document contains (capped at 3) — a deterministic stand-in for human
# judgments that gives every engine the same qrels. The ranking under
# evaluation is the BM25 ordering (integer-micro scores, doc_id ties).

_RETRIEVAL_QUERIES = (
    ("q_sort", ("sort", "order", "key")),
    ("q_join", ("join", "hash", "merge", "broadcast")),
    ("q_stream", ("stream", "batch", "window")),
)
_RETRIEVAL_K = 10
_RET_ALL_TERMS = tuple(sorted({t for _, ts in _RETRIEVAL_QUERIES for t in ts}))
_RET_TERMS_SQL = ", ".join(f"'{t}'" for t in _RET_ALL_TERMS)
_RET_QT_SQL = ", ".join(
    f"('{q}', '{t}')" for q, ts in _RETRIEVAL_QUERIES for t in ts
)

# shared oracle prefix: per-(query, doc) BM25 micro-score + graded rel,
# then dual rankings (scored and ideal)
_RET_RANKED_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM d),
tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS token FROM d),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
              CAST(MAX(dl) AS BIGINT) AS dl
       FROM tok WHERE token IN ({_RET_TERMS_SQL})
       GROUP BY doc_id, token),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
qt(query_id, token) AS (VALUES {_RET_QT_SQL}),
sc AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(floor(ln(1.0 + (CAST(st.n_docs - df.df AS DOUBLE) + 0.5)
                           / (CAST(df.df AS DOUBLE) + 0.5))
              * (tf.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
              / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                 * (1.0 - CAST({_BM25_B} AS DOUBLE)
                    + CAST({_BM25_B} AS DOUBLE) * tf.dl
                      / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
              * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN df USING (token) JOIN qt USING (token) CROSS JOIN st),
cand AS (SELECT query_id, doc_id, CAST(SUM(micro) AS BIGINT) AS sm,
                LEAST(3, CAST(COUNT(*) AS BIGINT)) AS rel
         FROM sc GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, sm, rel,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY sm DESC, doc_id) AS BIGINT) AS rk,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, doc_id) AS BIGINT) AS irk
      FROM cand)
"""

_RET_GAIN_SQL = "(CASE rel WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END)"


@register(
    "ml_ndcg_at_k",
    oracle=_RET_RANKED_SQL
    + f""",
dcg AS (SELECT query_id,
          CAST(COUNT(*) AS BIGINT) AS n_candidates,
          CAST(SUM(CASE WHEN rk <= {_RETRIEVAL_K} THEN
                 CAST(floor({_RET_GAIN_SQL} / log2(rk + 1) * 1000000.0)
                      AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro,
          CAST(SUM(CASE WHEN irk <= {_RETRIEVAL_K} THEN
                 CAST(floor({_RET_GAIN_SQL} / log2(irk + 1) * 1000000.0)
                      AS BIGINT) ELSE 0 END) AS BIGINT) AS idcg_micro
        FROM r GROUP BY query_id)
SELECT query_id, n_candidates,
       dcg_micro / 1000000.0 AS dcg_q6,
       idcg_micro / 1000000.0 AS idcg_q6,
       floor(CAST(dcg_micro AS DOUBLE) / idcg_micro * 1000000.0)
         / 1000000.0 AS ndcg_q6
FROM dcg
""",
    tags=("ml", "text"),
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per retrieval query — the ranking-quality eval for a
    search/RAG index (Järvelin & Kekäläinen): DCG over the BM25-ranked
    top-10 with graded gains (2^rel − 1 ∈ {1,3,7}), normalized by the
    ideal (rel-sorted) DCG over the same candidate pool. Relevance is
    a deterministic qrel: distinct query terms matched, capped at 3;
    ideal ties break by doc_id (a fixed, documented convention — tie
    handling differs across IR toolkits). Shape: one corpus shuffle
    carries only query-term hits (the text_bm25_topk substrate —
    filtered explode, broadcast df/stats/query-map); the dual rankings
    are per-query windows over the candidate pool, and each position's
    gain/log2(rank+1) term is floor-quantized to integer micros BEFORE
    the per-query sum, so DCG/IDCG are exact int64 and the single
    NDCG division is the only late float. At 100 TB the candidate
    window is per-query-partitioned; with a large query registry that
    is a balanced shuffle keyed on query_id."""
    docs = load_table(spark, sf_dir, "documents")
    stats, tf = _bm25_substrate(docs, _RET_ALL_TERMS)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    qt = spark.createDataFrame(
        [(q, t) for q, ts in _RETRIEVAL_QUERIES for t in ts],
        "query_id string, token string",
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl)
        )
    )
    cand = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(qt), "token")
        .crossJoin(stats)
        .select(
            "query_id",
            "doc_id",
            F.floor(score * 1_000_000.0).cast("long").alias("micro"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("micro").cast("long").alias("sm"),
            F.least(F.lit(3), F.count("*")).cast("long").alias("rel"),
        )
    )
    r = cand.select(
        "query_id",
        "rel",
        F.row_number()
        .over(W.partitionBy("query_id").orderBy(F.desc("sm"), "doc_id"))
        .cast("long")
        .alias("rk"),
        F.row_number()
        .over(W.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id"))
        .cast("long")
        .alias("irk"),
    )
    gain = (
        F.when(F.col("rel") == 1, 1).when(F.col("rel") == 2, 3).otherwise(7)
    )

    def pos_term(rank_col: str):
        return F.floor(
            gain / F.log2(F.col(rank_col) + 1) * 1_000_000.0
        ).cast("long")

    dcg = r.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(
            F.when(F.col("rk") <= _RETRIEVAL_K, pos_term("rk")).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro"),
        F.sum(
            F.when(F.col("irk") <= _RETRIEVAL_K, pos_term("irk")).otherwise(0)
        )
        .cast("long")
        .alias("idcg_micro"),
    )
    return dcg.select(
        "query_id",
        "n_candidates",
        (F.col("dcg_micro") / 1_000_000.0).alias("dcg_q6"),
        (F.col("idcg_micro") / 1_000_000.0).alias("idcg_q6"),
        (
            F.floor(
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("ndcg_q6"),
    )


@register(
    "ml_mrr_recall_at_k",
    oracle=_RET_RANKED_SQL
    + f""",
rel3 AS (SELECT query_id, rk FROM r WHERE rel >= 3),
a AS (SELECT query_id,
             CAST(COUNT(*) AS BIGINT) AS n_relevant,
             CAST(MIN(rk) AS BIGINT) AS first_rank,
             CAST(SUM(CASE WHEN rk <= {_RETRIEVAL_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_k
      FROM rel3 GROUP BY query_id)
SELECT query_id, n_relevant, first_rank, hits_at_k,
       floor(1000000.0 / first_rank) / 1000000.0 AS rr_q6,
       floor(CAST(hits_at_k AS DOUBLE) / n_relevant * 1000000.0)
         / 1000000.0 AS recall_at_k_q6,
       floor(CAST(hits_at_k AS DOUBLE) / {_RETRIEVAL_K} * 1000000.0)
         / 1000000.0 AS precision_at_k_q6
FROM a
""",
    tags=("ml", "text"),
)
def ml_mrr_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank, recall@10 and precision@10 per retrieval query
    — the binary-relevance companions to `ml_ndcg_at_k` (relevant =
    all-but-one query terms matched, rel ≥ 3) over the same BM25
    ranking and deterministic qrels. MRR uses the FULL ranking (rank of
    the first relevant hit, not cut at k — the convention that
    distinguishes it from success@k); recall/precision cut at k=10.
    Shape: identical substrate to ml_ndcg_at_k — one filtered-explode
    corpus shuffle, broadcast statistics, one per-query window — then a
    3-row aggregate. All counters exact int64; the three ratios are
    single late divisions."""
    docs = load_table(spark, sf_dir, "documents")
    stats, tf = _bm25_substrate(docs, _RET_ALL_TERMS)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    qt = spark.createDataFrame(
        [(q, t) for q, ts in _RETRIEVAL_QUERIES for t in ts],
        "query_id string, token string",
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl)
        )
    )
    cand = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(qt), "token")
        .crossJoin(stats)
        .select(
            "query_id",
            "doc_id",
            F.floor(score * 1_000_000.0).cast("long").alias("micro"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("micro").cast("long").alias("sm"),
            F.least(F.lit(3), F.count("*")).cast("long").alias("rel"),
        )
    )
    r = cand.select(
        "query_id",
        "rel",
        F.row_number()
        .over(W.partitionBy("query_id").orderBy(F.desc("sm"), "doc_id"))
        .cast("long")
        .alias("rk"),
    ).filter(F.col("rel") >= 3)
    a = r.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_relevant"),
        F.min("rk").cast("long").alias("first_rank"),
        F.sum(F.when(F.col("rk") <= _RETRIEVAL_K, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_k"),
    )
    return a.select(
        "query_id",
        "n_relevant",
        "first_rank",
        "hits_at_k",
        (F.floor(1_000_000.0 / F.col("first_rank")) / 1_000_000.0).alias("rr_q6"),
        (
            F.floor(
                F.col("hits_at_k").cast("double")
                / F.col("n_relevant")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("recall_at_k_q6"),
        (
            F.floor(
                F.col("hits_at_k").cast("double") / _RETRIEVAL_K * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("precision_at_k_q6"),
    )


_MATTR_W = 10  # moving-window width (Covington & McFall's standard)


@register(
    "text_mattr_diversity",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         CAST(CASE WHEN len(toks) >= {_MATTR_W}
                   THEN len(toks) - {_MATTR_W} + 1 ELSE 0 END AS BIGINT)
           AS n_windows,
         CAST(CASE WHEN len(toks) >= {_MATTR_W}
              THEN list_sum(list_transform(
                     generate_series(1, len(toks) - {_MATTR_W} + 1),
                     t -> len(list_distinct(toks[t:t + {_MATTR_W} - 1]))))
              ELSE 0 END AS BIGINT) AS sum_distinct
  FROM t
)
SELECT doc_id, n_tokens, n_types, n_windows,
       CASE WHEN n_windows > 0
            THEN floor(CAST(sum_distinct AS DOUBLE)
                       / ({_MATTR_W} * n_windows) * 1000000.0) / 1000000.0
            ELSE floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000.0)
                 / 1000000.0
       END AS mattr_q6
FROM s
""",
    tags=("llm", "text"),
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity (Covington & McFall's Moving-Average
    Type-Token Ratio, window 10) per document — the length-robust
    vocabulary-richness signal TTR can't give (TTR decays with doc
    length; MATTR doesn't), used as a curation filter for
    template/spam text next to `text_repetition_score`. Docs shorter
    than the window fall back to plain TTR (documented convention).
    Shape: a pure per-document map — zero shuffles, the ideal corpus
    operator; the token array is let-bound by a single-element-array
    transform (ARCHITECTURE.md "Text substrate"), making the sweep
    O(n·W) string work per doc. All counts exact int64; one late
    floor-q6 division."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = F.element_at(
        F.transform(
            F.array(tokens()),
            lambda tk: F.struct(
                F.size(tk).cast("long").alias("n_tokens"),
                F.size(F.array_distinct(tk)).cast("long").alias("n_types"),
                F.when(
                    F.size(tk) >= _MATTR_W,
                    (F.size(tk) - _MATTR_W + 1).cast("long"),
                )
                .otherwise(F.lit(0).cast("long"))
                .alias("n_windows"),
                F.when(
                    F.size(tk) >= _MATTR_W,
                    F.aggregate(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.size(tk) - _MATTR_W + 1
                            ),
                            lambda t: F.size(
                                F.array_distinct(F.slice(tk, t, _MATTR_W))
                            ).cast("long"),
                        ),
                        F.lit(0).cast("long"),
                        lambda a, x: a + x,
                    ),
                )
                .otherwise(F.lit(0).cast("long"))
                .alias("sum_distinct"),
            ),
        ),
        1,
    )
    s = docs.select("doc_id", per_doc.alias("st")).select(
        "doc_id",
        F.col("st.n_tokens").alias("n_tokens"),
        F.col("st.n_types").alias("n_types"),
        F.col("st.n_windows").alias("n_windows"),
        F.col("st.sum_distinct").alias("sum_distinct"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_windows",
        F.when(
            F.col("n_windows") > 0,
            F.floor(
                F.col("sum_distinct").cast("double")
                / (_MATTR_W * F.col("n_windows"))
                * 1_000_000.0
            )
            / 1_000_000.0,
        )
        .otherwise(
            F.floor(
                F.col("n_types").cast("double") / F.col("n_tokens") * 1_000_000.0
            )
            / 1_000_000.0
        )
        .alias("mattr_q6"),
    )


# --- WordPiece tokenizer application ----------------------------------------

_WP_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_WP_START = ("scan", "spark", "batch", "join", "wind", "qu", "sc", "jo", "st", "ba")
_WP_CONT = ("an", "in", "dow", "ery", "oin", "atch", "ark", "eam", "umn", "ue")
# (match_string, length, is_continuation) — the ## in WordPiece
# notation is vocabulary bookkeeping; matching uses the bare string.
_WP_VOCAB = (
    [(c, 1, 0) for c in _WP_LETTERS]
    + [(c, 1, 1) for c in _WP_LETTERS]
    + [(p, len(p), 0) for p in _WP_START]
    + [(p, len(p), 1) for p in _WP_CONT]
)
# Fold budget is sized FROM THE CORPUS: every step advances the cursor
# by >= 1 char, so max(len(token)) steps always suffice — no unchecked
# "max token length <= N" assumption (round-7 ADVICE item 4). Surplus
# steps (cursor past end) are no-ops on both engines. Spark sizes the
# sequence per token (len(token)); DuckDB must NOT — its 1.0.0
# list_reduce cross-contaminates rows when the dummy list's length
# varies within one vector (repro: tokens ['ab','query'] give 'query'
# np=3, alone np=2), so the oracle uses a constant scalar-subquery
# budget (max token length) instead, which is equivalent because
# surplus steps are no-ops.

_WP_VOCAB_SQL = "[" + ", ".join(
    f"{{'p': '{p}', 'l': {l}, 'c': {c}}}" for p, l, c in _WP_VOCAB
) + "]"
# NOTE the let-binding through list_transform([...], b -> ...): DuckDB
# 1.0.0's list_reduce evaluates later struct_pack fields against the
# ALREADY-UPDATED earlier fields of the same step (minimal repro:
# acc=(a,log), step a:=a+10, log:=log||acc.a logs post-update a from
# step 2 on), so `unk` must not re-read acc.pos after `pos :=` — bind
# the best-match length once from the pre-update cursor instead.
_WP_BEST_SQL = (
    f"list_max(list_transform(list_filter({_WP_VOCAB_SQL}, "
    "v -> v.c = (CASE WHEN acc.pos = 1 THEN 0 ELSE 1 END) "
    "AND substr(token, acc.pos, v.l) = v.p), v -> v.l))"
)


@register(
    "tokenizer_wordpiece_encode",
    oracle=f"""
WITH vterms AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
),
seg AS (
  SELECT token,
    list_reduce(
      list_prepend(struct_pack(pos := 1, np := 0, unk := 0),
        list_transform(range(1,
            (SELECT greatest(max(len(token)), 1) FROM vterms) + 1),
          x -> struct_pack(pos := 0, np := 0, unk := 0))),
      (acc, x) -> CASE WHEN acc.pos > len(token) THEN acc ELSE
        list_transform([{_WP_BEST_SQL}], b ->
          struct_pack(
            pos := acc.pos + COALESCE(b, 1),
            np := acc.np + 1,
            unk := acc.unk + CASE WHEN b IS NULL
                                  THEN 1 ELSE 0 END))[1]
      END) AS st
  FROM vterms),
enc AS (SELECT token, CAST(st.np AS BIGINT) AS n_pieces,
               CAST(st.unk AS BIGINT) AS n_unk,
               CAST(len(token) AS BIGINT) AS n_chars
        FROM seg)
SELECT d.doc_id,
       CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(e.n_unk) AS BIGINT) AS n_unk,
       CAST(SUM(e.n_chars) AS BIGINT) AS n_chars,
       floor(SUM(e.n_chars) * 1000000.0 / SUM(e.n_pieces)) / 1000000.0
         AS chars_per_piece_q6
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) d
JOIN enc e USING (token)
GROUP BY d.doc_id
""",
    tags=("llm", "text", "iterative"),
)
def tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer application (Wu et al. / BERT's greedy
    longest-match-first segmentation) under a FIXED subword vocabulary
    with start and ##continuation pieces: per-document piece count,
    [UNK] fallbacks (one per unmatched character), and the
    chars-per-piece compression ratio — the BERT-family counterpart
    to `tokenizer_bpe_encode`'s merge-table application. Segmentation
    is the real greedy algorithm, run engine-side as a bounded fold
    (F.aggregate / list_reduce over a fixed step budget, state =
    (cursor, pieces, unks); each step takes the LONGEST vocab piece
    matching at the cursor, continuation pieces only off word start) —
    but only over DISTINCT words, exactly how production tokenization
    scales: the word table is vocabulary-sized, the corpus side is an
    explode + broadcast join + one map-side-combined per-doc sum. All
    counters exact int64; the ratio is one late try_divide (empty-text
    docs have 0 pieces → NULL on both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab_arr = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"), F.lit(l).alias("l"), F.lit(c).alias("c")
            )
            for p, l, c in _WP_VOCAB
        ]
    )

    def best_len(pos):
        return F.array_max(
            F.transform(
                F.filter(
                    vocab_arr,
                    lambda v: (
                        v["c"] == F.when(pos == 1, 0).otherwise(1)
                    )
                    & (F.substring(F.col("token"), pos, v["l"]) == v["p"]),
                ),
                lambda v: v["l"],
            )
        )

    def step(acc, _x):
        pos = acc["pos"]
        b = best_len(pos)
        return F.when(pos > F.length("token"), acc).otherwise(
            F.struct(
                (pos + F.coalesce(b, F.lit(1))).alias("pos"),
                (acc["np"] + 1).alias("np"),
                (acc["unk"] + F.when(b.isNull(), 1).otherwise(0)).alias("unk"),
            )
        )

    init = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("np"), F.lit(0).alias("unk")
    )
    vterms = (
        docs.select(F.explode(tokens()).alias("token"))
        .distinct()
        .select(
            "token",
            F.aggregate(
                F.sequence(
                    F.lit(1), F.greatest(F.length("token"), F.lit(1))
                ),
                init,
                step,
            ).alias("st"),
        )
    )
    enc = vterms.select(
        "token",
        F.col("st.np").cast("long").alias("n_pieces"),
        F.col("st.unk").cast("long").alias("n_unk"),
        F.length("token").cast("long").alias("n_chars"),
    )
    d = docs.select("doc_id", F.explode(tokens()).alias("token"))
    return (
        d.join(F.broadcast(enc), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_unk").cast("long").alias("n_unk"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            (
                F.floor(
                    F.try_divide(F.sum("n_chars") * 1_000_000.0, F.sum("n_pieces"))
                )
                / 1_000_000.0
            ).alias("chars_per_piece_q6"),
        )
    )


_READ_SENT = 15  # pseudo-sentence length in words (corpus has no punctuation)


@register(
    "text_readability_smog",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, w ->
              greatest(1, len(string_split_regex(w, '[aeiouy]+')) - 1)))
           AS BIGINT) AS n_syllables,
         CAST(list_sum(list_transform(toks, w ->
              CASE WHEN len(string_split_regex(w, '[aeiouy]+')) - 1 >= 3
                   THEN 1 ELSE 0 END)) AS BIGINT) AS n_poly,
         CAST(ceil(len(toks) * 1.0 / {_READ_SENT}) AS BIGINT) AS n_sent
  FROM t
)
SELECT doc_id, n_words, n_syllables, n_poly, n_sent,
       floor((CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sent)
              + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words)
              - CAST(15.59 AS DOUBLE)) * 1000000.0) / 1000000.0
         AS fk_grade_q6,
       floor((CAST(1.043 AS DOUBLE)
              * sqrt(CAST(n_poly AS DOUBLE) * 30.0 / n_sent)
              + CAST(3.1291 AS DOUBLE)) * 1000000.0) / 1000000.0
         AS smog_q6
FROM s
""",
    tags=("llm", "text", "quality"),
)
def text_readability_smog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring for corpus curation: Flesch–Kincaid grade
    (0.39·words/sentence + 11.8·syllables/word − 15.59) and SMOG index
    (1.043·√(polysyllables·30/sentences) + 3.1291) per document —
    standard quality-filter features for training-data selection
    (alongside `text_quality_score`'s length/stopword heuristics).
    Syllables are vowel-group counts (runs of [aeiouy], min 1 per
    word) and sentences are fixed 15-word spans, the
    documented adaptation for this punctuation-free corpus; with real
    prose, swap the two regexes. Scale shape: ZERO shuffle — every
    statistic is an array higher-order-function fold inside the row
    (whole-stage codegen, no explode, no Python), so 100 TB cost is
    exactly one column-pruned scan. Determinism: integer counts
    folded in-row (exact), one sqrt/div layer with identical IEEE
    trees, non-binary-exact constants CAST to DOUBLE on the DuckDB
    side (bare literals parse as DECIMAL there)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()

    def groups(w):
        return F.size(F.split(w, "[aeiouy]+")) - 1

    s = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda a, w: a + F.greatest(F.lit(1), groups(w)),
        )
        .cast("long")
        .alias("n_syllables"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda a, w: a + F.when(groups(w) >= 3, 1).otherwise(0),
        )
        .cast("long")
        .alias("n_poly"),
        F.ceil(F.size(toks) * 1.0 / _READ_SENT).cast("long").alias("n_sent"),
    )
    return s.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_poly",
        "n_sent",
        (
            F.floor(
                (
                    0.39 * (F.col("n_words").cast("double") / F.col("n_sent"))
                    + 11.8
                    * (F.col("n_syllables").cast("double") / F.col("n_words"))
                    - 15.59
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("fk_grade_q6"),
        (
            F.floor(
                (
                    1.043
                    * F.sqrt(
                        F.col("n_poly").cast("double") * 30.0 / F.col("n_sent")
                    )
                    + 3.1291
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("smog_q6"),
    )


_WM_GAMMA_PCT = 25  # green-list fraction (percent)
_WM_Z = 4.0  # detection threshold (Kirchenbauer et al.'s z > 4)


@register(
    "text_watermark_greenlist",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(toks) - 1 AS BIGINT) AS n_scored,
         CAST(COALESCE(list_sum(list_transform(range(2, len(toks) + 1),
           i -> CASE WHEN CAST('0x' || substr(md5(
                  list_extract(toks, i - 1) || '|'
                  || list_extract(toks, i)), 1, 8) AS BIGINT) % 100
                  < {_WM_GAMMA_PCT}
                THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_green
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id, n_scored, n_green,
       floor((n_green - {_WM_GAMMA_PCT / 100.0} * n_scored)
             / sqrt(n_scored * {_WM_GAMMA_PCT / 100.0}
                    * (1.0 - {_WM_GAMMA_PCT / 100.0}))
             * 1000000.0) / 1000000.0 AS z_q6,
       (n_green - {_WM_GAMMA_PCT / 100.0} * n_scored)
         / sqrt(n_scored * {_WM_GAMMA_PCT / 100.0}
                * (1.0 - {_WM_GAMMA_PCT / 100.0})) > {_WM_Z}
         AS watermarked
FROM s
""",
    tags=("llm", "text", "quality"),
)
def text_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM watermark detection (Kirchenbauer et al. 2023's green-list
    scheme): each token is "green" iff a hash seeded by its PREDECESSOR
    lands in the γ=25% list; a watermarking sampler biases
    generation toward green tokens, so watermarked text shows a
    one-sided z = (g − γT)/√(Tγ(1−γ)) ≫ 0 while natural text sits near
    zero — the standard synthetic-text provenance screen a training
    pipeline runs to keep model output out of the training corpus
    (beside `decontam_ngram`'s eval-leak screen). Scale shape: ZERO
    shuffle — the predecessor pairing and green test run inside the
    token array per row (one md5 per adjacent pair, whole-stage
    codegen); one column-pruned scan at any corpus size. Determinism:
    md5-derived greens are engine-identical exact ints; γ is a binary-
    exact 0.25; single-token docs are excluded on both engines (no
    scorable pair)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    green = lambda prev, cur: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(prev, F.lit("|"), cur)), 1, 8), 16, 10)
        .cast("long")
        % 100
        < _WM_GAMMA_PCT
    ).cast("int")
    s = (
        docs.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            (F.size(toks) - 1).cast("long").alias("n_scored"),
            F.coalesce(
                F.aggregate(
                    F.sequence(F.lit(2), F.size(toks)),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc
                    + green(
                        F.element_at(toks, (i - 1).cast("int")),
                        F.element_at(toks, i.cast("int")),
                    ),
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_green"),
        )
    )
    gamma = _WM_GAMMA_PCT / 100.0
    z = (F.col("n_green") - gamma * F.col("n_scored")) / F.sqrt(
        F.col("n_scored") * gamma * (1.0 - gamma)
    )
    return s.select(
        "doc_id",
        "n_scored",
        "n_green",
        (F.floor(z * 1_000_000.0) / 1_000_000.0).alias("z_q6"),
        (z > _WM_Z).alias("watermarked"),
    )


@register(
    "text_bigram_entropy_rate",
    oracle="""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
),
bg AS (
  SELECT list_extract(toks, i) AS w1, list_extract(toks, i + 1) AS w2
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2
),
m AS (
  SELECT w1, w2, n,
         CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS n1,
         CAST(SUM(n) OVER () AS BIGINT) AS nn
  FROM c2
)
SELECT CAST(MAX(nn) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / nn)
                * ln(CAST(n AS DOUBLE) / n1) * 1000000000.0) AS BIGINT))
            AS BIGINT) / 1000000000.0 AS cond_entropy_nats_q9,
       CAST(SUM(CAST(floor(-(CAST(n AS DOUBLE) / nn)
                * ln(CAST(n AS DOUBLE) / nn) * 1000000000.0) AS BIGINT))
            AS BIGINT) / 1000000000.0 AS joint_entropy_nats_q9
FROM m
""",
    tags=("llm", "text"),
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy rate under the bigram model: conditional entropy
    H(W₂|W₁) = −Σ p(w₁,w₂)·ln p(w₂|w₁) and joint bigram entropy — the
    information-theoretic summary of corpus predictability that the
    per-document `text_bigram_logprob`/Kneser-Ney ops score documents
    WITH (low entropy rate ⇒ templated/boilerplate-heavy corpus; the
    gap H(W₂) − H(W₂|W₁) is the mutual information the bigram model
    exploits). Scale shape: one explode into ONE (w₁, w₂) count
    shuffle; the conditional marginal rides a window partitioned by w₁
    over the bigram-vocabulary table (bounded by vocabulary², not the
    corpus); one 1-row reduce. Determinism: all probabilities are
    ratios of exact int64 counts; each bigram's entropy term
    floor-quantizes to int64 nanos before the cross-bigram sum."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens().alias("toks"))
    bg = t.select(
        F.posexplode(
            F.expr("transform(slice(toks, 1, size(toks) - 1), (w, i) -> "
                   "struct(w as w1, toks[i + 1] as w2))")
        ).alias("pos", "p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n"))
    m = c2.select(
        "n",
        F.sum("n").over(W.partitionBy("w1")).cast("long").alias("n1"),
        F.sum("n")
        .over(W.partitionBy())
        .cast("long")
        .alias("nn"),
    )
    cond_term = F.floor(
        -(F.col("n").cast("double") / F.col("nn"))
        * F.log(F.col("n").cast("double") / F.col("n1"))
        * 1_000_000_000.0
    ).cast("long")
    joint_term = F.floor(
        -(F.col("n").cast("double") / F.col("nn"))
        * F.log(F.col("n").cast("double") / F.col("nn"))
        * 1_000_000_000.0
    ).cast("long")
    return m.agg(
        F.max("nn").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        (F.sum(cond_term).cast("long") / 1_000_000_000.0).alias(
            "cond_entropy_nats_q9"
        ),
        (F.sum(joint_term).cast("long") / 1_000_000_000.0).alias(
            "joint_entropy_nats_q9"
        ),
    )


# --- Unigram-LM tokenizer (SentencePiece-style Viterbi segmentation) ---------

# Fixed candidate piece inventory (max length 5): the 26 single letters
# plus corpus-plausible multigrams. PROBABILITIES are learned from the
# corpus (substring counts), so the segmentation itself is data-driven.
_UNI_PIECES = tuple(
    list("abcdefghijklmnopqrstuvwxyz")
    + [
        "sc", "an", "ba", "jo", "in", "qu", "st", "re", "am", "ta",
        "co", "lu", "va", "ue", "er", "or", "ro", "ow", "do",
        "tch", "ery", "ble", "umn",
        "wind", "atch",
        "spark", "scan", "batch", "join",
    ]
)
_UNI_MAXP = 5  # max piece length => DP needs the last 5 best scores
_UNI_INF = 10**14  # unreachable sentinel (never survives: 1-char fallback)


def _uni_pieces_sql() -> str:
    return "[" + ", ".join(f"'{p}'" for p in _UNI_PIECES) + "]"


def _uni_cost_lookup_sql(length: int) -> str:
    """Combined cost of the length-l piece ending at position p
    (= a.pos + 1), from the map; UNK fallback for single chars,
    unreachable for missing multigrams."""
    piece = f"substr(token, a.pos + 2 - {length}, {length})"
    fallback = "cm.unk_cost" if length == 1 else str(_UNI_INF)
    return f"COALESCE(map_extract(cm.cost, {piece})[1], {fallback})"


_UNI_STEP_SQL = (
    "list_transform([acc], a -> CASE WHEN a.pos >= len(token) THEN "
    "struct_pack(pos := a.pos + 1, b0 := a.b0, b1 := a.b1, b2 := a.b2, "
    "b3 := a.b3, b4 := a.b4) ELSE struct_pack("
    "pos := a.pos + 1, "
    "b0 := least("
    + ", ".join(
        f"a.b{l - 1} + {_uni_cost_lookup_sql(l)}" for l in range(1, _UNI_MAXP + 1)
    )
    + "), b1 := a.b0, b2 := a.b1, b3 := a.b2, b4 := a.b3) END)[1]"
)


@register(
    "tokenizer_unigram_encode",
    oracle=f"""
WITH vterms AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
cand AS (SELECT unnest({_uni_pieces_sql()}) AS piece),
cnt AS (
  SELECT c.piece,
         CAST(SUM(v.f * (len(v.token) - len(replace(v.token, c.piece, '')))
                  / len(c.piece)) AS BIGINT) AS occ
  FROM cand c, vterms v
  GROUP BY c.piece
),
tot AS (SELECT CAST(SUM(occ) AS BIGINT) AS total FROM cnt),
costs AS (
  SELECT piece,
         (CAST(floor(-ln(CAST(occ AS DOUBLE) / t.total) * 1000000.0)
            AS BIGINT) + 1) * 128 + 1 AS cost
  FROM cnt, tot t WHERE occ > 0
),
cm AS (
  SELECT map(list(piece ORDER BY piece), list(cost ORDER BY piece)) AS cost,
         (CAST(floor(ln(2.0 * (SELECT total FROM tot)) * 1000000.0)
            AS BIGINT) + 1) * 128 + 1 AS unk_cost
  FROM costs
),
seg AS (
  SELECT v.token, v.f,
    list_reduce(
      list_prepend(
        struct_pack(pos := CAST(0 AS BIGINT), b0 := CAST(0 AS BIGINT),
                    b1 := CAST({_UNI_INF} AS BIGINT),
                    b2 := CAST({_UNI_INF} AS BIGINT),
                    b3 := CAST({_UNI_INF} AS BIGINT),
                    b4 := CAST({_UNI_INF} AS BIGINT)),
        list_transform(
          range(1, (SELECT greatest(max(len(token)), 1) FROM vterms) + 1),
          x -> struct_pack(pos := CAST(0 AS BIGINT), b0 := CAST(0 AS BIGINT),
                           b1 := CAST(0 AS BIGINT), b2 := CAST(0 AS BIGINT),
                           b3 := CAST(0 AS BIGINT), b4 := CAST(0 AS BIGINT)))),
      (acc, e) -> {_UNI_STEP_SQL}) AS st
  FROM vterms v, cm
),
enc AS (
  SELECT token, CAST(st.b0 % 128 AS BIGINT) AS n_pieces,
         CAST(st.b0 // 128 AS BIGINT) AS nll_micros,
         CAST(len(token) AS BIGINT) AS n_chars
  FROM seg
)
SELECT d.doc_id,
       CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(e.nll_micros) AS BIGINT) / 1000000.0 AS nll_q6,
       CAST(SUM(e.n_chars) AS BIGINT) AS n_chars
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) d
JOIN enc e USING (token)
GROUP BY d.doc_id
""",
    tags=("llm", "text", "iterative"),
)
def tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer (the SentencePiece segmentation model,
    Kudo 2018) — the third tokenizer family beside BPE (merge rules)
    and WordPiece (greedy longest match): piece probabilities are
    LEARNED from the corpus (frequency-weighted substring counts over
    the distinct-word table), then each word takes its Viterbi-optimal
    segmentation, minimizing total -log p. Per doc: piece count, total
    NLL, chars. The exactness trick: piece costs quantize to int
    micros and pack (nll, n_pieces) into ONE additive integer
    (cost·128 + 1), so the whole DP is exact int64 minimization — no
    float ordering anywhere. The DP itself is a bounded-state fold
    (the last 5 best scores as scalar struct fields, shifted
    each step), so there is NO list accumulator (DuckDB list_reduce
    can't carry one) and no per-position recursion: one fold per
    DISTINCT word, vocabulary-sized like all tokenizer ops — the
    corpus contributes one token-count shuffle and one broadcast join
    back. DuckDB side: the step let-binds `acc` through
    list_transform([acc], a -> ...) because struct_pack fields read
    ALREADY-UPDATED earlier fields of the same step (the round-7
    list_reduce bug), and the dummy step list uses a CONSTANT
    corpus-max budget (variable-length dummy lists cross-contaminate
    rows — the round-8 wordpiece finding)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens()).alias("token")
    )
    vterms = toks.groupBy("token").agg(F.count("*").cast("long").alias("f"))
    vterms = vterms.localCheckpoint(eager=False)
    cand = spark.createDataFrame(
        [(p,) for p in _UNI_PIECES], "piece string"
    )
    cnt = (
        cand.crossJoin(vterms)
        .select(
            "piece",
            (
                F.col("f")
                * (
                    F.length("token")
                    - F.length(F.replace(F.col("token"), F.col("piece")))
                )
                / F.length("piece")
            ).alias("occ"),
        )
        .groupBy("piece")
        .agg(F.sum("occ").cast("long").alias("occ"))
    )
    tot = cnt.agg(F.sum("occ").cast("long").alias("total"))
    costs = (
        cnt.crossJoin(tot)
        .filter(F.col("occ") > 0)
        .select(
            "piece",
            (
                (
                    F.floor(
                        -F.log(F.col("occ").cast("double") / F.col("total"))
                        * 1_000_000.0
                    ).cast("long")
                    + 1
                )
                * 128
                + 1
            ).alias("cost"),
        )
    )
    cm = costs.crossJoin(tot).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("piece", "cost")))
        ).alias("cost_map"),
        (
            (
                F.floor(F.log(2.0 * F.max("total")) * 1_000_000.0).cast("long")
                + 1
            )
            * 128
            + 1
        ).alias("unk_cost"),
    )

    def lookup(pos, length):
        piece = F.substring(
            F.col("token"), (pos + 1 - length).cast("int"), length
        )
        hit = F.element_at(F.col("cost_map"), piece)
        fb = F.col("unk_cost") if length == 1 else F.lit(_UNI_INF)
        return F.coalesce(hit, fb)

    def step(acc, x):
        prevs = [acc[f"b{i}"] for i in range(_UNI_MAXP)]
        best = None
        for length in range(1, _UNI_MAXP + 1):
            c = prevs[length - 1] + lookup(x, length)
            best = c if best is None else F.least(best, c)
        new = F.struct(
            best.alias("b0"),
            prevs[0].alias("b1"),
            prevs[1].alias("b2"),
            prevs[2].alias("b3"),
            prevs[3].alias("b4"),
        )
        return F.when(x > F.length("token"), acc).otherwise(new)

    init = F.struct(
        F.lit(0).cast("long").alias("b0"),
        *[
            F.lit(_UNI_INF).cast("long").alias(f"b{i}")
            for i in range(1, _UNI_MAXP)
        ],
    )
    seg = vterms.crossJoin(cm).select(
        "token",
        F.aggregate(
            F.sequence(F.lit(1), F.greatest(F.length("token"), F.lit(1))),
            init,
            step,
        ).alias("st"),
    )
    enc = seg.select(
        "token",
        (F.col("st.b0") % 128).cast("long").alias("n_pieces"),
        F.floor(F.col("st.b0") / 128).cast("long").alias("nll_micros"),
        F.length("token").cast("long").alias("n_chars"),
    )
    return (
        toks.join(F.broadcast(enc), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            (F.sum("nll_micros").cast("long") / 1_000_000.0).alias("nll_q6"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


# --- Heaps' law fit ---------------------------------------------------------------

_HEAPS_BINS = 10  # id-range checkpoints for the vocab growth curve


@register(
    "text_heaps_law",
    oracle=f"""
WITH bounds AS (SELECT MAX(doc_id) + 1 AS hi FROM documents),
dd AS (
  SELECT doc_id,
         LEAST(CAST(doc_id * {_HEAPS_BINS} // hi AS BIGINT),
               {_HEAPS_BINS - 1}) AS dec,
         len(string_split(text, ' ')) AS n_tok
  FROM documents CROSS JOIN bounds
),
tok_bin AS (
  SELECT dec, CAST(SUM(n_tok) AS BIGINT) AS toks FROM dd GROUP BY 1
),
firsts AS (
  SELECT term, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents)
  GROUP BY 1
),
voc_bin AS (
  SELECT LEAST(CAST(first_doc * {_HEAPS_BINS} // hi AS BIGINT),
               {_HEAPS_BINS - 1}) AS dec,
         CAST(COUNT(*) AS BIGINT) AS novel
  FROM firsts CROSS JOIN bounds GROUP BY 1
),
pts AS (
  SELECT t.dec,
         CAST(SUM(t.toks) OVER (ORDER BY t.dec) AS BIGINT) AS n_c,
         CAST(SUM(COALESCE(v.novel, 0)) OVER (ORDER BY t.dec) AS BIGINT) AS v_c
  FROM tok_bin t LEFT JOIN voc_bin v ON v.dec = t.dec
),
q AS (
  SELECT dec, n_c, v_c,
         CAST(floor(ln(CAST(n_c AS DOUBLE)) * 1000000.0) AS BIGINT) AS xq,
         CAST(floor(ln(CAST(v_c AS DOUBLE)) * 1000000.0) AS BIGINT) AS yq
  FROM pts WHERE n_c > 0 AND v_c > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx,
         CAST(MAX(n_c) AS BIGINT) AS total_tokens,
         CAST(MAX(v_c) AS BIGINT) AS vocab_size
  FROM q
),
f AS (
  SELECT *,
         (CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta
  FROM s
)
SELECT np AS n_points, total_tokens, vocab_size,
       floor(beta * 1000000.0) / 1000000.0 AS beta_q6,
       floor(exp((CAST(sy AS DOUBLE) - beta * sx)
                 / (CAST(np AS DOUBLE) * 1000000.0)) * 1000000.0)
         / 1000000.0 AS k_q6
FROM f
""",
    tags=("llm", "text"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·nᵝ for corpus vocabulary growth — the
    planning curve that predicts tokenizer vocab pressure and novel-
    token rate at 100 TB from a small prefix (companion to
    `text_zipf_fit`, which fixes the frequency axis; Heaps fixes the
    GROWTH axis). Distributed trick: cumulative distinct vocabulary is
    sequential by definition, but V(checkpoint) = #terms whose FIRST
    occurrence (min doc_id — one keyed agg) falls at or before the
    checkpoint, so the whole curve comes from two map-side-combined
    aggregations and a 10-row cumsum — no sequential scan, no state.
    Checkpoints are doc-id RANGE bins (bounds from a broadcast 1-row
    max — no global rank window; the window audit stays clean).
    Exactness: (n_c, V_c) are exact int64; each point contributes
    floor-micro'd ln coordinates, the OLS moment sums over the 10
    points are int64 (order-free), and β/K are closed-form doubles
    from those ints, floor-q6."""
    docs = load_table(spark, sf_dir, "documents")
    # divergence point: the 1-row bounds aggregate feeds BOTH bucket
    # assignments — checkpoint so its documents scan happens once
    # (scan-audit cap: docs = dd + firsts + bounds = 3 scans)
    bounds = docs.agg((F.max("doc_id") + 1).alias("hi")).localCheckpoint(
        eager=False
    )
    dd = docs.crossJoin(bounds).select(
        "doc_id",
        F.least(
            (F.col("doc_id") * _HEAPS_BINS / F.col("hi")).cast("long"),
            F.lit(_HEAPS_BINS - 1).cast("long"),
        ).alias("dec"),
        F.size(tokens()).alias("n_tok"),
    )
    tok_bin = dd.groupBy("dec").agg(F.sum("n_tok").cast("long").alias("toks"))
    firsts = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens())).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    voc_bin = (
        firsts.crossJoin(bounds)
        .groupBy(
            F.least(
                (F.col("first_doc") * _HEAPS_BINS / F.col("hi")).cast("long"),
                F.lit(_HEAPS_BINS - 1).cast("long"),
            ).alias("dec")
        )
        .agg(F.count("*").cast("long").alias("novel"))
    )
    wcum = W.orderBy("dec").rowsBetween(W.unboundedPreceding, W.currentRow)
    pts = (
        tok_bin.join(voc_bin, "dec", "left")
        .select(
            "dec",
            F.sum("toks").over(wcum).cast("long").alias("n_c"),
            F.sum(F.coalesce("novel", F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("v_c"),
        )
    )
    q = pts.filter((F.col("n_c") > 0) & (F.col("v_c") > 0)).select(
        F.floor(F.log(F.col("n_c").cast("double")) * 1e6)
        .cast("long")
        .alias("xq"),
        F.floor(F.log(F.col("v_c").cast("double")) * 1e6)
        .cast("long")
        .alias("yq"),
        "n_c",
        "v_c",
    )
    s = q.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.max("n_c").cast("long").alias("total_tokens"),
        F.max("v_c").cast("long").alias("vocab_size"),
    )
    beta = F.try_divide(
        F.col("np").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy"),
        F.col("np").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
    )
    return s.select(
        F.col("np").alias("n_points"),
        "total_tokens",
        "vocab_size",
        (F.floor(beta * 1e6) / 1e6).alias("beta_q6"),
        (
            F.floor(
                F.exp(
                    (F.col("sy").cast("double") - beta * F.col("sx"))
                    / (F.col("np").cast("double") * 1e6)
                )
                * 1e6
            )
            / 1e6
        ).alias("k_q6"),
    )


# --- term burstiness (Fano factor) ------------------------------------------------

_BURST_TOPN = 20  # most document-frequent terms


@register(
    "text_term_burstiness",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
per_doc AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM tok GROUP BY 1, 2
),
per_term AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q
  FROM per_doc GROUP BY 1
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
top AS (
  SELECT t.*, nd.n FROM per_term t CROSS JOIN nd
  ORDER BY t.df DESC, t.term ASC LIMIT {_BURST_TOPN}
)
SELECT term, df, s AS total_occurrences,
       floor(CAST(n * q - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * s)
             * 1000000.0) / 1000000.0 AS fano_q6
FROM top ORDER BY df DESC, term ASC
""",
    tags=("llm", "text"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the Fano factor (variance-to-mean ratio of
    per-document occurrence counts, zeros included) for the
    20 most document-frequent terms — Church & Gale's
    dispersion diagnostic: function words sit near Fano≈1 (Poisson),
    topical/bursty terms far above — the signal that separates
    stopword candidates from content terms better than raw frequency
    (feeds `text_keywords_topk` and stopword-list curation). The
    zeros-included moments need NO dense doc×term grid: with S=Σx and
    Q=Σx² over occurrences only, Fano = (N·Q − S²)/(N·S) exactly
    (absent docs contribute 0 to both) — one token explode with
    map-side combine to (term, doc) counts, one per-term reduce, a
    broadcast 1-row doc count, deterministic top-20 by
    (df, term) via TakeOrderedAndProject. Exact int64 into one final
    division."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("x")
    )
    per_term = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    nd = docs.agg(F.count("*").cast("long").alias("n"))
    top = (
        per_term.crossJoin(nd)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_BURST_TOPN)
    )
    return top.select(
        "term",
        "df",
        F.col("s").alias("total_occurrences"),
        (
            F.floor(
                F.try_divide(
                    (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast(
                        "double"
                    ),
                    F.col("n").cast("double") * F.col("s"),
                )
                * 1e6
            )
            / 1e6
        ).alias("fano_q6"),
    )


# --- PMI word-pair co-occurrence ---------------------------------------------

_PMI_VOCAB = 50  # top document-frequency words admitted to pairing
_PMI_MIN_CO = 5  # minimum co-document count for a reported pair


@register(
    "text_pmi_pairs",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM dw GROUP BY w),
voc AS (
  SELECT w, c FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM df
  ) WHERE rk <= {_PMI_VOCAB}
),
dv AS (SELECT dw.doc_id, dw.w FROM dw JOIN voc ON voc.w = dw.w),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
co AS (
  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM dv a JOIN dv b ON b.doc_id = a.doc_id AND a.w < b.w
  GROUP BY 1, 2
)
SELECT co.w1, co.w2, co.c12,
       v1.c AS c1, v2.c AS c2,
       floor(ln(CAST(co.c12 AS DOUBLE) * CAST(nd.n AS DOUBLE)
                / (CAST(v1.c AS DOUBLE) * CAST(v2.c AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS pmi_q6
FROM co JOIN voc v1 ON v1.w = co.w1 JOIN voc v2 ON v2.w = co.w2
CROSS JOIN nd
WHERE co.c12 >= {_PMI_MIN_CO}
""",
    tags=("llm", "text"),
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level pointwise mutual information for word pairs
    restricted to the top-50 document-frequency vocabulary:
    PMI(x, y) = ln(N·c_xy / (c_x·c_y)) over co-document counts, the
    classic collocation/association score (Church & Hanks 1990) a
    curation pipeline uses to find template phrases and topic clusters
    beyond single-token stats. Scale design: the quadratic pair
    expansion happens ONLY inside the vocab-filtered per-document word
    sets — each document contributes at most C(50,2) pairs
    regardless of its length, and the vocab filter is a broadcast
    semi-join against a 50-row table, so the corpus-scale
    stages are one distinct-(doc, word) aggregate and one bounded-key
    pair count (the decontam_ngram broadcast rule + the bounded-block
    rule from the Jaccard family, composed). Determinism: all counts
    exact int64; one ln over an exact rational, floored at 1e-6; the
    top-vocab cut breaks count ties on the word itself."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(tokens()).alias("w")
    ).distinct()
    df = dw.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    # r10 (VERDICT r9 item 5 sweep): the top-vocab cut is orderBy +
    # limit — TakeOrderedAndProject keeps a bounded per-partition heap
    # and never moves the |vocab| table (corpus-growing) into one task
    # the way the old row_number() global window did. Same total order
    # (c DESC, w), same _PMI_VOCAB rows, bit-identical output.
    voc = (
        df.orderBy(F.col("c").desc(), "w")
        .limit(_PMI_VOCAB)
        .localCheckpoint(eager=False)  # feeds the filter and both count joins
    )
    dv = dw.join(voc.select("w"), "w").select("doc_id", "w")
    nd = docs.agg(F.count("*").cast("long").alias("n"))
    a = dv.select("doc_id", F.col("w").alias("w1"))
    b = dv.select("doc_id", F.col("w").alias("w2"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_CO)
    )
    v1 = voc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    v2 = voc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    out = (
        co.join(v1, "w1")
        .join(v2, "w2")
        .crossJoin(nd)
    )
    pmi = F.ln(
        F.col("c12").cast("double")
        * F.col("n").cast("double")
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return out.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "c2",
        (F.floor(pmi * 1e6) / 1e6).alias("pmi_q6"),
    )


# --- TextRank keywords ---------------------------------------------------------

_TR_DAMP = 0.85
_TR_ITERS = 3
_TR_TOP = 10
_TR_MIN_CO = 2

_TR_ITER_SQL = """
c{i} AS (
  SELECT ew.dst, list(ew.w * p.pr ORDER BY ew.src) AS cs
  FROM ew JOIN pr{j} p ON ew.src = p.node GROUP BY ew.dst),
pr{i} AS (
  SELECT n.node,
         1.5e-1 / CAST(nn.n AS DOUBLE)
           + 8.5e-1 * COALESCE(list_reduce(c{i}.cs, (x, y) -> x + y), 0e0)
           AS pr
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.node = c{i}.dst)"""


def _textrank_oracle() -> str:
    iters = ",".join(
        _TR_ITER_SQL.format(i=i, j=i - 1) for i in range(1, _TR_ITERS + 1)
    )
    return f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM dw GROUP BY w),
voc AS (
  SELECT w FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM dfreq
  ) WHERE rk <= {_PMI_VOCAB}
),
dv AS (SELECT dw.doc_id, dw.w FROM dw JOIN voc ON voc.w = dw.w),
co AS (
  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS n
  FROM dv a JOIN dv b ON b.doc_id = a.doc_id AND a.w < b.w
  GROUP BY 1, 2 HAVING COUNT(*) >= {_TR_MIN_CO}
),
e AS (
  SELECT w1 AS src, w2 AS dst, n FROM co
  UNION ALL SELECT w2 AS src, w1 AS dst, n FROM co
),
o AS (SELECT src, CAST(SUM(n) AS BIGINT) AS out_n FROM e GROUP BY src),
ew AS (
  SELECT e.src, e.dst, CAST(e.n AS DOUBLE) / CAST(o.out_n AS DOUBLE) AS w
  FROM e JOIN o USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
pr0 AS (SELECT node, 1e0 / CAST(nn.n AS DOUBLE) AS pr
        FROM nodes CROSS JOIN nn),
{iters}
SELECT node AS word, trq / 1000000.0 AS textrank_q6 FROM (
  SELECT node, CAST(floor(pr * 1e6) AS BIGINT) AS trq,
         row_number() OVER (ORDER BY CAST(floor(pr * 1e6) AS BIGINT) DESC,
                            node) AS rk
  FROM pr{_TR_ITERS}
) WHERE rk <= {_TR_TOP}
"""


@register(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("llm", "text", "graph", "iterative"),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank (damping 0.85, 3 unrolled iterations) over the
    UNDIRECTED co-document graph of the top-50 vocabulary
    (edges = co-document counts ≥ 2, from the same bounded
    pair machinery as `text_pmi_pairs`), reporting the top-10
    words by stationary score — the graph-centrality upgrade over the
    frequency/RAKE keyword ops (`text_keywords_topk`,
    `text_rake_keywords`): a word ranks high for co-occurring with
    other well-connected words, not for raw count. Scale: corpus-scale
    work is exactly text_pmi_pairs' (one distinct-(doc,word) aggregate
    + a vocab-bounded pair count); the graph is ≤ 50 nodes
    by construction, so the iterations run as ordered higher-order
    folds on ONE gathered row (the graph_pagerank grammar, same
    src-ascending fold determinism), and the final cut orders on the
    QUANTIZED integer score with the word as tiebreaker — no float
    ordering ambiguity."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(tokens()).alias("w")
    ).distinct()
    dfreq = dw.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    voc = (
        dfreq.withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("w")))
        )
        .filter(F.col("rk") <= _PMI_VOCAB)
        .select("w")
    )
    dv = dw.join(voc, "w").select("doc_id", "w")
    a = dv.select("doc_id", F.col("w").alias("w1"))
    b = dv.select("doc_id", F.col("w").alias("w2"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= _TR_MIN_CO)
    )
    e = co.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"), "n"
    ).unionAll(co.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "n"))
    edges1 = e.agg(
        F.sort_array(F.collect_list(F.struct("dst", "src", "n"))).alias("en")
    )
    nodes1 = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .agg(F.sort_array(F.collect_list("node")).alias("ns"))
    )
    g = edges1.crossJoin(nodes1)
    out_n = lambda s: F.aggregate(  # noqa: E731 — exact integer sum
        F.filter(F.col("en"), lambda x: x["src"] == s),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["n"],
    )
    # Edge weights AND source indices are computed once and the single
    # graph row checkpointed before the loop: the iterations' folds then
    # read plain stored arrays instead of re-deriving
    # array_position/out-degree per lambda step (interpreted HOFs have
    # no common-subexpression elimination).
    g = g.withColumn(
        "edges",
        F.transform(
            "en",
            lambda x: F.struct(
                x["dst"].alias("dst"),
                x["src"].alias("src"),
                F.array_position(F.col("ns"), x["src"]).cast("int").alias("si"),
                (x["n"].cast("double") / out_n(x["src"]).cast("double")).alias(
                    "w"
                ),
            ),
        ),
    )
    n_nodes = F.size("ns").cast("double")
    g = g.withColumn(
        "pr0", F.transform("ns", lambda _: F.lit(1.0) / n_nodes)
    ).localCheckpoint(eager=False)
    for i in range(_TR_ITERS):
        prev = F.col(f"pr{i}")
        contrib = lambda v: F.aggregate(  # noqa: E731 — fold in src order
            F.filter(F.col("edges"), lambda ed: ed["dst"] == v),
            F.lit(0.0),
            lambda acc, ed: acc + ed["w"] * F.element_at(prev, ed["si"]),
        )
        # localCheckpoint between iterations: unlike graph_pagerank's
        # 5-node/25-edge graph, this one carries ~2·C(50,2) edge structs,
        # and letting CollapseProject inline pr{i} into pr{i+1} makes
        # the interpreted fold re-evaluate the WHOLE previous iteration
        # array per edge — O(edges^iters) evaluation (measured: 3
        # unrolled iterations ran for 20 minutes at sf0.01). Cutting the
        # lineage per round stores each iteration's 50-float array once;
        # the checkpointed frame is a single row, so the cost is three
        # no-op-sized jobs at any corpus scale.
        g = g.withColumn(
            f"pr{i + 1}",
            F.transform(
                "ns",
                lambda v: F.lit(0.15) / n_nodes + F.lit(_TR_DAMP) * contrib(v),
            ),
        ).localCheckpoint(eager=False)
    z = g.select(
        F.explode(F.arrays_zip(F.col("ns"), F.col(f"pr{_TR_ITERS}"))).alias("z")
    )
    scored = z.select(
        F.col("z.ns").alias("word"),
        F.floor(F.col(f"z.pr{_TR_ITERS}") * 1e6).cast("long").alias("trq"),
    )
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("trq").desc(), F.col("word"))),
        )
        .filter(F.col("rk") <= _TR_TOP)
        .select("word", (F.col("trq") / 1e6).alias("textrank_q6"))
    )
