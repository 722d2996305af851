"""Training-data curation operators round 2 (SURVEY §2.7 extensions):
chunking, repetition scoring, char entropy, PII redaction, cross-corpus
segment dedup, test-set decontamination, sequence packing.

All but the segment dedup are pure per-row Catalyst expression work —
at 100 TB they run inside whole-stage codegen at scan speed with zero
shuffles. The segment dedup is the CCNet-style corpus-wide filter and
is deliberately shaped as ONE shuffle on the segment digest (window
count) plus one small shuffle on doc_id.

Determinism: ratios are floor-quantized with scale-before-divide;
entropies follow the text_tfidf precedent (round(ln-based value, 6) —
both engines' libm log agree to well under the quantum in practice);
fold order over sorted arrays is identical on both engines so double
accumulation is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import TOKENS_SQL, gram_hash_sql, tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

_CHUNK = 64
_STRIDE = 48


def _q6(numer, denom):
    # floor-quantize, scaling BEFORE the divide (identical IEEE ops on
    # both engines — see ARCHITECTURE.md "Determinism conventions").
    # try_divide: a zero denominator (empty n-gram set on a 1-token
    # doc) is NULL on DuckDB and an ANSI crash on Spark without it —
    # found by the round-5 degenerate-docs sweep
    return F.floor(F.try_divide(numer * F.lit(1_000_000.0), denom)) / 1_000_000.0


@register(
    "text_chunk_fixed",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(1, len(toks)+1, {_STRIDE})) AS chunk_start
      FROM t)
SELECT doc_id,
       CAST((chunk_start - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(len(toks[chunk_start:chunk_start+{_CHUNK - 1}]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(toks[chunk_start:chunk_start+{_CHUNK - 1}], ' ')) AS chunk_digest
FROM e
""",
    tags=("llm", "text"),
)
def text_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking with overlap (chunk=64 tokens,
    stride=48 → 16-token overlap) — the context-window prep step before
    tokenization/packing. One explode per doc, no shuffle; chunk text is
    emitted as a digest so the verified value is the exact content."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens().alias("toks"))
    d = d.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_STRIDE))
        ).alias("chunk_id", "chunk_start"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_start"), F.lit(_CHUNK))
    return d.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_digest"),
    )


def _ngram_dup_sql(n: int) -> str:
    grams = (
        f"list_transform(range(1, len(toks)-{n}+2), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )
    return (
        f"floor((len({grams}) - len(list_distinct({grams}))) * 1e6 "
        f"/ len({grams})) / 1e6"
    )


@register(
    "text_repetition_score",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       floor((len(toks) - len(list_distinct(toks))) * 1e6 / len(toks)) / 1e6
         AS dup_tok_frac,
       {_ngram_dup_sql(2)} AS dup_2gram_frac,
       {_ngram_dup_sql(3)} AS dup_3gram_frac
FROM t
""",
    tags=("llm", "text"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: fraction of tokens / 2-grams /
    3-grams that are duplicates within the document. High values flag
    boilerplate and degenerate generations; standard pre-training
    filter thresholds sit around 0.2-0.6. Pure per-row expressions."""
    docs = load_table(spark, sf_dir, "documents")

    def ngrams(words, n):
        # guard: Spark's sequence(1, k) is DESCENDING for k < 1 (a
        # 1-token doc would feed slice() a 0/negative start — ANSI
        # crash); DuckDB's range is empty there
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)"))

    def dup_frac(arr):
        return _q6(F.size(arr) - F.size(F.array_distinct(arr)), F.size(arr))

    toks = tokens()
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        dup_frac(toks).alias("dup_tok_frac"),
        dup_frac(ngrams(toks, 2)).alias("dup_2gram_frac"),
        dup_frac(ngrams(toks, 3)).alias("dup_3gram_frac"),
    )


@register(
    "text_char_entropy",
    oracle="""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '.') AS chars FROM documents),
u AS (SELECT doc_id, chars, list_sort(list_distinct(chars)) AS dch FROM t)
SELECT doc_id,
  CAST(len(dch) AS BIGINT) AS n_distinct_chars,
  CASE WHEN len(chars) > 0 THEN
    round(ln(CAST(len(chars) AS DOUBLE))
          - list_sum(list_transform(dch,
              c -> CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE)
                   * ln(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE))))
            / len(chars), 6)
  END AS entropy_nats
FROM u
""",
    tags=("llm", "text"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy (nats): the cheap
    garbage/encoding detector — near-zero flags repeated-char junk,
    unusually high flags binary-as-text; the same statistic scores
    DGA-style random strings. H = ln(N) - (1/N)·Σ n_c·ln(n_c), folded
    over the SORTED distinct-char array so both engines accumulate in
    the same order (bit-identical before rounding)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit("."), F.lit(0)).alias("chars")
    )
    d = d.withColumn("dch", F.array_sort(F.array_distinct(F.col("chars"))))
    counts = F.transform(
        F.col("dch"),
        lambda c: F.size(F.filter(F.col("chars"), lambda x: x == c)),
    )
    sum_nlogn = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, n: acc + n.cast("double") * F.log(n.cast("double")),
    )
    n = F.size("chars").cast("double")
    return d.select(
        "doc_id",
        F.size("dch").cast("long").alias("n_distinct_chars"),
        # empty doc → NULL on both engines (ln(0) is a DuckDB error and
        # the /0 an ANSI crash; CASE branches are lazy on both)
        F.when(n > 0, F.round(F.log(n) - sum_nlogn / n, 6)).alias("entropy_nats"),
    )


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PII_IP = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
_PII_PHONE = "[0-9]{3}-[0-9]{4}"


def _synth_pii(doc_id):
    """Deterministic PII-bearing suffix (the corpus itself is word soup
    with no digits, so the redactor is exercised on synthesized spans)."""
    return F.concat_ws(
        "",
        F.col("text"),
        F.lit(" contact user"),
        (doc_id % 1000).cast("string"),
        F.lit("@example.com from 10."),
        (doc_id % 256).cast("string"),
        F.lit(".0."),
        (1 + doc_id % 254).cast("string"),
        F.lit(" call 555-01"),
        F.lpad((doc_id % 100).cast("string"), 2, "0"),
    )


_SYNTH_SQL = (
    "text || ' contact user' || CAST(doc_id % 1000 AS VARCHAR)"
    " || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.' || CAST(1 + doc_id % 254 AS VARCHAR)"
    " || ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)


@register(
    "text_pii_redact",
    oracle=f"""
WITH t AS (SELECT doc_id, {_SYNTH_SQL} AS synth FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(synth, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(synth, '{_PII_IP}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(synth, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(synth,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IP}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_digest
FROM t
""",
    tags=("llm", "text"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrubbing (emails → IPv4 → phone, in that order) with
    per-class match counts — the standard pre-release redaction pass.
    Patterns are RE2/Java-compatible; redacted text is verified by
    digest. Pure per-row regexp work: zero shuffles at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _synth_pii(F.col("doc_id")).alias("synth"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("synth"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )

    def cnt(pat):
        return F.size(F.regexp_extract_all("synth", F.lit(pat), F.lit(0))).cast("long")

    return d.select(
        "doc_id",
        cnt(_PII_EMAIL).alias("n_email"),
        cnt(_PII_IP).alias("n_ip"),
        cnt(_PII_PHONE).alias("n_phone"),
        F.md5(redacted).alias("redacted_digest"),
    )


_SEG = 10


@register(
    "dedup_segment_cross",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
segs AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{_SEG - 1}], ' ')) AS seg
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1, {_SEG})) AS i FROM t)
),
counted AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY seg) AS cnt FROM segs),
d AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs
  FROM counted GROUP BY doc_id
)
SELECT doc_id, n_segs, n_dup_segs,
       floor(n_dup_segs * 1e6 / n_segs) / 1e6 AS dup_frac
FROM d
WHERE floor(n_dup_segs * 1e6 / n_segs) / 1e6 < 0.5
""",
    tags=("llm", "dedup"),
)
def dedup_segment_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus duplicate-segment filter: split each doc
    into 10-token segments, count each segment's occurrences CORPUS-WIDE,
    and keep documents whose duplicate-segment fraction is under 0.5
    (reporting the stats). Shaped as one shuffle on the segment digest
    (window count — same exchange a groupBy would need, but no join back)
    plus one small shuffle on doc_id; segment digests never leave the
    executors as full text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    seg = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size(toks), F.lit(_SEG)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, _SEG))),
        )
    ).alias("seg")
    segs = docs.select("doc_id", seg)
    counted = segs.withColumn("cnt", F.count("*").over(Window.partitionBy("seg")))
    d = counted.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segs"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long").alias("n_dup_segs"),
    )
    dup_frac = _q6(F.col("n_dup_segs"), F.col("n_segs"))
    return d.select("doc_id", "n_segs", "n_dup_segs", dup_frac.alias("dup_frac")).filter(
        dup_frac < 0.5
    )


_DECON_N = 3  # real pipelines use 8-13-grams; 3 keeps the synthetic
# word-soup corpus non-vacuous (246 contaminated docs at sf0.001)

_DECON_GRAMS = (
    f"list_distinct(list_transform(range(1, len(toks)-{_DECON_N}+2), "
    f"i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))"
)


@register(
    "decontam_ngram",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id, unnest({_DECON_GRAMS}) AS gram FROM t),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
hits AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 != 0 GROUP BY g.doc_id
),
base AS (
  SELECT doc_id, CAST(len({_DECON_GRAMS}) AS BIGINT) AS n_grams
  FROM t WHERE doc_id % 50 != 0
)
SELECT b.doc_id, b.n_grams,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       floor(COALESCE(h.n_contaminated, 0) * 1e6 / b.n_grams) / 1e6
         AS contam_frac,
       CAST(CASE WHEN COALESCE(h.n_contaminated, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS is_contaminated
FROM base b LEFT JOIN hits h USING (doc_id)
""",
    tags=("llm", "dedup"),
)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-gram (n=3 here) with the held-out eval set (docs with doc_id % 50 == 0
    stand in for the benchmark). The eval gram set is tiny relative to
    the corpus, so it is BROADCAST — the 100 TB training side is scanned
    once with no shuffle; per-doc contamination counts then aggregate on
    doc_id (map-side combinable). This is the standard pre-training
    hygiene pass (GPT-3 §C / PaLM-style 'contaminated if any n-gram
    overlaps')."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    # guard: descending sequence() on docs shorter than the n-gram
    # (see the ngrams() note in text_repetition_score)
    grams_arr = F.when(
        F.size(toks) >= _DECON_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - _DECON_N + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, _DECON_N)),
            )
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    g = docs.select("doc_id", F.explode(grams_arr).alias("gram"))
    ev = g.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    hits = (
        g.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(ev), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    base = docs.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.size(grams_arr).cast("long").alias("n_grams")
    )
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_cont.alias("n_contaminated"),
        _q6(n_cont, F.col("n_grams")).alias("contam_frac"),
        F.when(n_cont > 0, 1).otherwise(0).cast("long").alias("is_contaminated"),
    )


_PACK_BUDGET = 512


@register(
    "pack_sequences",
    oracle=f"""
WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_toks
           FROM documents),
c AS (SELECT doc_id, source, n_toks,
        CAST(COALESCE(SUM(n_toks) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS cum_excl
      FROM t)
SELECT source,
       CAST(floor(cum_excl / {_PACK_BUDGET}) AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY source, floor(cum_excl / {_PACK_BUDGET})
""",
    tags=("llm", "text"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget sequence packing: within each source
    shard, docs in doc_id order are assigned to training sequences of
    ~512 tokens by exclusive-cumulative-sum binning (a doc whose prefix
    sum crosses the boundary starts spilling into the next sequence —
    the standard contiguous-packing approximation, vs. first-fit which
    is inherently sequential). The window partitions by source, so the
    cumsum parallelizes across shards — no global ordering bottleneck;
    at 100 TB, packing is per input shard exactly like this. One shuffle
    on source; the groupBy reuses the same partitioning (no second
    exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(tokens()).cast("long").alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_excl", F.coalesce(F.sum("n_toks").over(w), F.lit(0).cast("long"))
    )
    return (
        c.withColumn(
            "seq_id",
            F.floor(F.col("cum_excl") / F.lit(_PACK_BUDGET)).cast("long"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


def _distinct_trigrams(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, ngram) trigram shingles. Two perf rules
    learned the hard way: (1) `tk` is bound as a column before the
    lambda reads it (ARCHITECTURE.md "Text substrate"; inlined: 3.2 s
    instead of 0.5 s at sf0.1); (2) no array_distinct — it is O(len²)
    interpreted comparisons per row; explode and dedup relationally
    instead (a map-side-combined aggregate, linear per row)."""
    base = docs.withColumn("tk", tokens()).filter(F.size("tk") >= 3)
    tri_expr = F.transform(
        F.sequence(F.lit(0), F.size("tk") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("tk", i + 1),
            F.element_at("tk", i + 2),
            F.element_at("tk", i + 3),
        ),
    )
    return base.select("doc_id", F.explode(tri_expr).alias("ngram")).distinct()


_BP_PCT = 20  # trigram is boilerplate if present in >= 20% of docs


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), tri AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS ngram
  FROM toks WHERE len(tk) >= 3
), df AS (
  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_docs_with FROM tri GROUP BY ngram
), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT tri.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) FILTER (WHERE df.n_docs_with * 100 >= {_BP_PCT} * t.n_docs)
            AS BIGINT) AS n_boiler,
       floor(COUNT(*) FILTER (WHERE df.n_docs_with * 100 >= {_BP_PCT} * t.n_docs)
             * 1e6 / COUNT(*)) / 1e6 AS boiler_ratio_q6
FROM tri JOIN df USING (ngram) CROSS JOIN t
GROUP BY tri.doc_id
""",
    tags=("llm", "text", "quality"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection (the C4/RefinedWeb "remove
    lines shared across many pages" step, adapted to trigram shingles
    since this corpus has no line structure): a trigram occurring in
    ≥ 20% of documents is boilerplate, and each document reports how
    much of its distinct-trigram mass is boilerplate. Shape: one
    explode → trigram-keyed document-frequency aggregate (map-side
    combined; shuffle carries |distinct trigrams|), the corpus doc
    count folds in as a broadcast 1-row aggregate (no driver action),
    and the document frequency rides a WINDOW over the same trigram
    key (one shuffle; a groupBy + join-back would re-derive the
    trigram explode on both sides — see _dup_spans). The boilerplate
    test is an integer cross-multiply (df·100 ≥ 20·N) — no float
    threshold."""
    docs = load_table(spark, sf_dir, "documents")
    tri = _distinct_trigrams(docs)
    t = docs.agg(F.count("*").cast("long").alias("n_docs"))
    is_bp = F.col("n_docs_with") * 100 >= F.lit(_BP_PCT) * F.col("n_docs")
    joined = tri.withColumn(
        "n_docs_with", F.count("*").over(Window.partitionBy("ngram")).cast("long")
    ).crossJoin(t)
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_ngrams"),
        F.count_if(is_bp).cast("long").alias("n_boiler"),
        (F.floor(F.count_if(is_bp) * 1e6 / F.count("*")) / 1e6).alias(
            "boiler_ratio_q6"
        ),
    )


@register(
    "text_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), tri AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS ngram
  FROM toks WHERE len(tk) >= 3
), first_seen AS (
  SELECT ngram, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tri GROUP BY ngram
)
SELECT tri.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) FILTER (WHERE first_seen.first_doc = tri.doc_id)
            AS BIGINT) AS n_novel,
       floor(COUNT(*) FILTER (WHERE first_seen.first_doc = tri.doc_id)
             * 1e6 / COUNT(*)) / 1e6 AS novelty_q6
FROM tri JOIN first_seen USING (ngram)
GROUP BY tri.doc_id
""",
    tags=("llm", "text", "quality"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each document (in doc_id ingest
    order), the fraction of its distinct trigrams never seen in any
    earlier document — the diminishing-returns signal a crawl pipeline
    watches to decide when more data stops adding information. Shape
    mirrors `text_boilerplate_ngrams`: trigram explode → min(doc_id)
    as a WINDOW over the trigram key (one shuffle, single derivation
    of the explode — a groupBy + join-back runs it twice) → per-doc
    integer ratio. No driver actions, no float thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    tri = _distinct_trigrams(docs)
    is_novel = F.col("first_doc") == F.col("doc_id")
    return tri.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("ngram")).cast("long")
    ).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_ngrams"),
        F.count_if(is_novel).cast("long").alias("n_novel"),
        (F.floor(F.count_if(is_novel) * 1e6 / F.count("*")) / 1e6).alias(
            "novelty_q6"
        ),
    )


# ---------------------------------------------------------------------------
# Duplicated-span coverage (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): exact-substring dedup finds
# repeated spans with a suffix array; the distributed approximation is
# n-gram granularity — a span is "duplicated" when its n-gram occurs in
# >= 2 distinct documents, and a document's score is the fraction of
# its token positions covered by the union of duplicated n-gram spans.

_DUPSPAN_N = 4
_DUPSPAN_HEX = 15  # oracle side of gram_hash_sql's 60-bit fingerprint


_DUPSPAN_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
g AS (
  SELECT doc_id, i - 1 AS pos,
         CAST('0x' || substr(md5(array_to_string(
             list_slice(toks, i, i + {_DUPSPAN_N - 1}), ' ')), 1, {_DUPSPAN_HEX})
           AS BIGINT) AS h
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_DUPSPAN_N} + 2)) AS i
        FROM base WHERE len(toks) >= {_DUPSPAN_N})
),
df AS (SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
c AS (SELECT g.doc_id, g.pos, g.pos + {_DUPSPAN_N} AS e FROM g JOIN df USING (h)),
iv AS (SELECT doc_id, e,
              GREATEST(pos, COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos)) AS s
       FROM c),
cov AS (SELECT doc_id, CAST(SUM(GREATEST(0, e - s)) AS BIGINT) AS covered
        FROM iv GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       floor(CAST(COALESCE(cov.covered, 0) AS DOUBLE) * 1000000.0 / b.n_tokens)
         / 1000000.0 AS dup_coverage_q6
FROM base b LEFT JOIN cov USING (doc_id)
"""


def _dup_spans(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, c), the stream both dup-span queries start from.
    base: (doc_id, n_tokens, toks) for every document. c: (doc_id,
    pos, e), one row per _DUPSPAN_N-gram whose fingerprint also
    occurs in a different document, covering token positions
    [pos, e)."""
    base = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_tokens"),
        tokens().alias("toks"),
    )
    n = _DUPSPAN_N
    g = base.filter(F.size("toks") >= n).select(
        "doc_id", F.posexplode(F.expr(gram_hash_sql(n))).alias("pos", "h")
    )
    # cross-doc duplication flag as a WINDOW over the fingerprint key,
    # not groupBy+join-back: the join formulation re-derives the md5
    # gram scan on BOTH sides of the join (2× the most expensive
    # stage); the window shuffles the gram stream on h exactly once —
    # same exchange the groupBy needed — and filters in place
    # (measured 1.58 s → 0.9 s at sf0.1, identical rows)
    wh = Window.partitionBy("h")
    c = (
        g.withColumn("lo", F.min("doc_id").over(wh))
        .withColumn("hi", F.max("doc_id").over(wh))
        .filter(F.col("lo") != F.col("hi"))
        .select("doc_id", "pos", (F.col("pos") + n).alias("e"))
    )
    return base, c


@register(
    "text_dup_span_coverage",
    oracle=_DUPSPAN_ORACLE,
    tags=("llm", "text", "dedup", "quality"),
)
def text_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of token
    positions lying under at least one 4-gram that also occurs in a
    DIFFERENT document — the n-gram-granular form of exact-substring
    dedup (suffix-array dedup's distributed stand-in). Shape: one
    explode to (pos, 60-bit ngram fingerprint) — fixed-width ints, not
    strings, cross the wire — ONE min/max-doc aggregate keyed on
    the fingerprint (cross-doc duplication ⇔ min(doc) ≠ max(doc) —
    map-side combined, no distinct pass), a join back on the same key, then a per-document
    interval-union sweep (window running-max of span ends; each
    position counted once even under overlapping spans). Every shuffle
    is equi-keyed on fingerprint or doc_id; nothing is O(n²). The
    score is an exact-integer ratio, floor-quantized once."""
    base, c = _dup_spans(load_table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    iv = c.select(
        "doc_id",
        "e",
        F.greatest(
            F.col("pos"), F.coalesce(F.max("e").over(w), F.col("pos"))
        ).alias("s"),
    )
    cov = iv.groupBy("doc_id").agg(
        F.sum(F.greatest(F.lit(0), F.col("e") - F.col("s")))
        .cast("long")
        .alias("covered")
    )
    covered = F.coalesce(F.col("covered"), F.lit(0)).cast("long")
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        covered.alias("covered_tokens"),
        (F.floor(covered * 1_000_000.0 / F.col("n_tokens")) / 1_000_000.0).alias(
            "dup_coverage_q6"
        ),
    )


_STRIP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
g AS (
  SELECT doc_id, i - 1 AS pos,
         CAST('0x' || substr(md5(array_to_string(
             list_slice(toks, i, i + {_DUPSPAN_N - 1}), ' ')), 1, {_DUPSPAN_HEX})
           AS BIGINT) AS h
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_DUPSPAN_N} + 2)) AS i
        FROM base WHERE len(toks) >= {_DUPSPAN_N})
),
df AS (SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
c AS (SELECT g.doc_id, g.pos, g.pos + {_DUPSPAN_N} AS e FROM g JOIN df USING (h)),
cov AS (SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(range(pos, e)) AS p FROM c)),
pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
              FROM base)),
kept AS (SELECT pos.doc_id, pos.p, pos.tok
         FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
         WHERE cov.p IS NULL),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
               substr(md5(string_agg(tok, ' ' ORDER BY p)), 1, 16) AS clean_md5
        FROM kept GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       COALESCE(agg.clean_md5, substr(md5(''), 1, 16)) AS clean_md5
FROM base b LEFT JOIN agg USING (doc_id)
"""


@register(
    "text_strip_dup_spans",
    oracle=_STRIP_ORACLE,
    tags=("llm", "text", "dedup", "quality"),
)
def text_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM, not just a score: rewrite
    each document with every cross-document duplicated 4-gram span
    REMOVED (Lee et al. 2022 — `text_dup_span_coverage` measures the
    duplicated mass; this op actually strips it, which is the step a
    training pipeline ships). Shape: the same single gram explode →
    one window over the 60-bit fingerprint key marks cross-doc spans;
    spans then merge per document into disjoint intervals via a
    gaps-islands window (running max of span ends → island ids —
    bounded output, never one row per covered token on the wire), and
    the final rewrite is a per-row Catalyst HOF: `filter(toks, (t, i)
    -> no merged interval covers i)` — token text itself never
    shuffles; only fingerprints and merged intervals do. Per-token
    cost is O(#islands in doc), not O(#covered positions). Output is
    (kept count, md5-prefix of the cleaned text) so the row stays
    fixed-width. Docs shorter than the gram width pass through
    untouched (left join → NULL interval list → identity filter)."""
    base, c = _dup_spans(load_table(spark, sf_dir, "documents"))
    # merge overlapping spans per doc (gaps-islands): both windows ride
    # the SAME (doc_id, pos) sort — one shuffle
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        c.withColumn(
            "new_island",
            F.when(
                F.col("pos") > F.coalesce(F.max("e").over(wprev), F.lit(-1)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(wrun))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    clean = F.expr(
        "filter(toks, (t, i) -> ivs IS NULL OR "
        "NOT exists(ivs, v -> i >= v.s AND i < v.e))"
    )
    return base.join(islands, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.size(clean).cast("long").alias("kept_tokens"),
        F.substring(F.md5(F.concat_ws(" ", clean)), 1, 16).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by the log-likelihood ratio of its hashed n-gram features under a
# target-domain bag model vs the raw-corpus bag model; selection then
# resamples by this weight. Here the target is the English slice
# (lang = 'en') standing in for the paper's high-quality domain.

_DSIR_BUCKETS = 1024


_DSIR_ORACLE_BODY = f"""
t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, lang,
             toks || CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END AS feats
      FROM t),
e AS (SELECT doc_id, lang, i - 1 AS pos,
             CAST('0x' || substr(md5(feats[i]), 1, 8) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang, feats, unnest(range(1, len(feats) + 1)) AS i
            FROM f)),
c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
      FROM e GROUP BY b),
tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS r_total,
               CAST(SUM(ct) AS BIGINT) AS t_total FROM c),
cq AS (SELECT b, CAST(floor((ln(CAST(ct + 1 AS DOUBLE))
                             - ln(CAST(cr + 1 AS DOUBLE))) * 1048576.0)
                      AS BIGINT) AS lr_q20
       FROM c),
a AS (SELECT e.doc_id, CAST(SUM(cq.lr_q20) AS BIGINT) AS s_q20,
             CAST(COUNT(*) AS BIGINT) AS n_feats
      FROM e JOIN cq USING (b) GROUP BY e.doc_id)
SELECT a.doc_id, a.n_feats,
       floor((CAST(s_q20 AS DOUBLE) / 1048576.0
              + n_feats * (ln(CAST(r_total + {_DSIR_BUCKETS} AS DOUBLE))
                           - ln(CAST(t_total + {_DSIR_BUCKETS} AS DOUBLE))))
             * 1000000.0) / 1000000.0 AS dsir_logratio_q6
FROM a CROSS JOIN tot
"""


@register(
    "text_importance_dsir",
    oracle="WITH" + _DSIR_ORACLE_BODY,
    tags=("llm", "text", "quality", "sampling"),
)
def text_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: sum over hashed unigram+
    bigram features of ln p_target(f) − ln p_raw(f) with add-one
    smoothing over 1024 buckets (target = the lang='en' slice). The
    per-bucket counts are ONE 1024-row aggregate computed in the same
    scan for both distributions (conditional count), broadcast back
    onto the feature stream with each bucket's log-ratio pre-quantized
    to the 2^20 integer grid — so the per-doc reduction is an EXACT
    integer SUM (map-side combined, order-independent; no ordered fold,
    no collect_list) and the smoothing normalizer folds in as
    n_feats × scalar from a broadcast 1-row totals aggregate. Shuffles: the 1024-row bucket aggregate
    (map-side combined) and the per-doc regroup — both equi-keyed; at
    100 TB the bucket table is O(1024) regardless of corpus size, which
    is DSIR's point: the scorer is two broadcast tables and a scan."""
    docs = load_table(spark, sf_dir, "documents")
    # `toks` bound as a column before the bigram lambda reads it
    # (ARCHITECTURE.md "Text substrate"; inlined: 20x slower at sf0.1)
    t = docs.select("doc_id", "lang", tokens().alias("toks"))
    f = t.select(
        "doc_id",
        "lang",
        F.expr(
            "concat(toks, CASE WHEN size(toks) >= 2 "
            "THEN transform(sequence(0, size(toks) - 2), "
            "i -> concat(toks[i], ' ', toks[i + 1])) "
            "ELSE CAST(array() AS array<string>) END)"
        ).alias("feats"),
    )
    # hash INSIDE the array transform and explode bucket longs only:
    # exploding 1M+ feature STRINGS through the row format costs 3x the
    # whole hash pass (measured at sf0.1); fixed-width longs are free.
    # The exploded stream feeds THREE consumers (bucket counts, their
    # totals, and the per-doc reduction) — localCheckpointed so the md5
    # pass runs once, not once per consumer (under AQE it runs while the
    # DataFrame is built: ARCHITECTURE.md, plan-reuse item 2); rows are
    # slimmed to (doc_id, is_t, b) first so the checkpoint carries no
    # strings
    e = f.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        F.explode(
            F.expr(
                "transform(feats, x -> CAST(conv(substr(md5(x), 1, 8), 16, 10) "
                f"AS BIGINT) % {_DSIR_BUCKETS})"
            )
        ).alias("b"),
    ).localCheckpoint(eager=False)
    c = e.groupBy("b").agg(
        F.count("*").cast("long").alias("cr"),
        F.count_if(F.col("is_t")).cast("long").alias("ct"),
    )
    tot = c.agg(
        F.sum("cr").cast("long").alias("r_total"),
        F.sum("ct").cast("long").alias("t_total"),
    )
    cq = c.select(
        "b",
        F.floor(
            (
                F.log((F.col("ct") + 1).cast("double"))
                - F.log((F.col("cr") + 1).cast("double"))
            )
            * 1_048_576.0
        )
        .cast("long")
        .alias("lr_q20"),
    )
    a = (
        e.join(F.broadcast(cq), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("lr_q20").cast("long").alias("s_q20"),
            F.count("*").cast("long").alias("n_feats"),
        )
    )
    scalar = F.log(
        (F.col("r_total") + _DSIR_BUCKETS).cast("double")
    ) - F.log((F.col("t_total") + _DSIR_BUCKETS).cast("double"))
    return a.crossJoin(tot).select(
        "doc_id",
        "n_feats",
        (
            F.floor(
                (
                    F.col("s_q20").cast("double") / 1_048_576.0
                    + F.col("n_feats") * scalar
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("dsir_logratio_q6"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, appendix A): the standard
# rule battery every web-corpus pipeline applies before model-based
# filtering. Document-level rules only (the synthetic corpus has no
# line structure); every ratio test is an exact integer
# cross-multiplication, so there is no float threshold anywhere.

_GOPHER_STOPWORDS = "('the', 'a', 'be', 'to', 'of', 'and', 'that', 'have', 'with')"
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


_GOPHER_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_transform(toks, x -> len(x)), (a, b) -> a + b)
                  AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(toks, ['the', 'a', 'be', 'to', 'of', 'and',
                                            'that', 'have', 'with']))
                  AS BIGINT) AS n_stop
      FROM t),
r AS (SELECT doc_id, n_words,
             n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AS word_count_ok,
             sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS mean_len_ok,
             5 * n_alpha > 4 * n_words AS alpha_ok,
             n_stop >= 2 AS stopword_ok
      FROM s)
SELECT doc_id, n_words, word_count_ok, mean_len_ok, alpha_ok, stopword_ok,
       word_count_ok AND mean_len_ok AND alpha_ok AND stopword_ok AS gopher_pass
FROM r
"""


@register(
    "text_gopher_rules",
    oracle=_GOPHER_ORACLE,
    tags=("llm", "text", "quality"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter: per document, the word-count
    bound (50–100k), mean-word-length bound (3–10 chars), >80%
    alphabetic-word fraction, and ≥2 distinct stop words — plus the
    conjunction the pipeline actually filters on. Pure per-row
    Catalyst expression work: at 100 TB this runs inside whole-stage
    codegen at scan speed with zero shuffles, which is exactly why the
    rule battery is the FIRST stage of every curation pipeline (it
    cuts the corpus before anything that costs a shuffle or a model).
    Ratios are exact integer cross-multiplications (no float
    thresholds), so the oracle match is trivially bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = "array" + _GOPHER_STOPWORDS
    s = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_words"),
        F.expr(
            f"CAST(aggregate(transform({TOKENS_SQL}, x -> length(x)), "
            "0L, (a, b) -> a + b) AS BIGINT)"
        ).alias("sum_len"),
        F.expr(
            f"CAST(size(filter({TOKENS_SQL}, x -> x rlike '[a-zA-Z]')) "
            "AS BIGINT)"
        ).alias("n_alpha"),
        F.expr(
            f"CAST(size(array_intersect({TOKENS_SQL}, {stop_arr})) AS BIGINT)"
        ).alias("n_stop"),
    )
    n = F.col("n_words")
    rules = {
        "word_count_ok": (n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS),
        "mean_len_ok": (F.col("sum_len") >= 3 * n) & (F.col("sum_len") <= 10 * n),
        "alpha_ok": 5 * F.col("n_alpha") > 4 * n,
        "stopword_ok": F.col("n_stop") >= 2,
    }
    out = s.select(
        "doc_id", "n_words", *[c.alias(k) for k, c in rules.items()]
    )
    gpass = (
        F.col("word_count_ok")
        & F.col("mean_len_ok")
        & F.col("alpha_ok")
        & F.col("stopword_ok")
    )
    return out.withColumn("gopher_pass", gpass)


# ---------------------------------------------------------------------------
# DSIR stage 2: importance RESAMPLING. The paper samples without
# replacement with probability ∝ exp(weight); the Gumbel top-k trick
# makes that a deterministic top-k — add an independent Gumbel noise
# term G(doc) to each log-weight and take the k largest keys. The
# "noise" here is a pure hash function of doc_id, so the sample is
# reproducible and shardable (no RNG state, no driver involvement).

_RESAMPLE_K = 100
_RESAMPLE_SALT = "g|"


@register(
    "sample_importance_resample",
    oracle=f"""
WITH d AS (WITH{_DSIR_ORACLE_BODY}),
g AS (SELECT doc_id, dsir_logratio_q6,
             dsir_logratio_q6
             + (-ln(-ln((CAST('0x' || substr(md5('{_RESAMPLE_SALT}'
                             || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                         + 0.5) / 4294967296.0))) AS key
      FROM d)
SELECT doc_id, dsir_logratio_q6,
       floor(key * 1000000.0) / 1000000.0 AS gumbel_key_q6
FROM g ORDER BY key DESC, doc_id LIMIT {_RESAMPLE_K}
""",
    tags=("llm", "quality", "sampling"),
)
def sample_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling over the DSIR weights: key =
    log-weight + Gumbel(md5(doc_id)), take the 100 largest — equivalent
    to sampling 100 docs without replacement with probability
    ∝ exp(weight), but fully deterministic (the Gumbel variate is a
    hash of doc_id, not RNG state) and embarrassingly parallel. The
    top-k collapses to TakeOrderedAndProject (per-partition heads, no
    global sort), so the only shuffles are the ones the DSIR scorer
    already does; selection itself adds zero."""
    scored = text_importance_dsir(spark, sf_dir)
    u = (
        F.expr(
            f"CAST(conv(substr(md5(concat('{_RESAMPLE_SALT}', CAST(doc_id AS STRING))), "
            "1, 8), 16, 10) AS BIGINT)"
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    key = F.col("dsir_logratio_q6") + (-F.log(-F.log(u)))
    return (
        scored.select("doc_id", "dsir_logratio_q6", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(_RESAMPLE_K)
        .select(
            "doc_id",
            "dsir_logratio_q6",
            (F.floor(F.col("key") * 1_000_000.0) / 1_000_000.0).alias(
                "gumbel_key_q6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-3 capstone: the MODERN curation pipeline composed from this
# round's methods — rule filter (Gopher) → substring-dedup gate
# (duplicated-span coverage) → target-likeness gate (DSIR weight) —
# the RefinedWeb/Dolma-style recipe, composed on doc_id.

@register(
    "llm_curation_pipeline_v2",
    oracle=f"""
WITH gr AS ({_GOPHER_ORACLE}),
cv AS ({_DUPSPAN_ORACLE}),
dw AS (WITH{_DSIR_ORACLE_BODY}),
kept AS (
  SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tok
  FROM documents d
  JOIN gr ON gr.doc_id = d.doc_id AND gr.gopher_pass
  JOIN cv ON cv.doc_id = d.doc_id AND cv.dup_coverage_q6 < 0.5
  JOIN dw ON dw.doc_id = d.doc_id AND dw.dsir_logratio_q6 >= 0.0)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS token_budget
FROM kept GROUP BY lang
""",
    tags=("llm", "flagship", "quality"),
)
def llm_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation recipe composed end to end: Gopher rule
    battery (zero-shuffle codegen) ∧ duplicated-span coverage < 0.5
    (fingerprint-keyed shuffles) ∧ DSIR target-likeness ≥ 0 (broadcast
    bucket table), intersected on doc_id and rolled up to the
    per-language token budget a data curator signs off on. Each stage
    is an independently oracle-verified operator; every stage's
    survivors equi-join on doc_id, so the intersection adds doc-keyed
    shuffles, never a rescan driven from the driver. The DSIR stage's
    checkpoint runs its jobs while the DataFrame is built
    (ARCHITECTURE.md, plan-reuse item 2). Contrast llm_prep_pipeline,
    the v1 recipe: language/length/type-token filters + exact dedup +
    hash sample."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        text_gopher_rules(spark, sf_dir)
        .filter(F.col("gopher_pass"))
        .select("doc_id")
    )
    c = (
        text_dup_span_coverage(spark, sf_dir)
        .filter(F.col("dup_coverage_q6") < 0.5)
        .select("doc_id")
    )
    w = (
        text_importance_dsir(spark, sf_dir)
        .filter(F.col("dsir_logratio_q6") >= 0.0)
        .select("doc_id")
    )
    kept = (
        docs.select(
            "doc_id", "lang", F.size(tokens()).cast("long").alias("n_tok")
        )
        .join(g, "doc_id")
        .join(c, "doc_id")
        .join(w, "doc_id")
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("token_budget"),
    )


# --- code-vs-prose detection ------------------------------------------------------

# character classes counted by replace-diff (exact, engine-agnostic)
_CODE_SYMS = "{};()=<>[]#_"
_CODE_KWS = ("def ", "return ", "import ", "void ", "class ", "function ")
_CODE_THRESH_MICRO = 40_000  # score >= 4% symbol+keyword density => code


def _char_count_sql(src: str, ch: str) -> str:
    esc = ch.replace("'", "''")
    return f"(length({src}) - length(replace({src}, '{esc}', '')))"


@register(
    "text_code_detect",
    oracle=f"""
WITH c AS (
  SELECT doc_id, length(text) AS n,
         CAST({' + '.join(_char_count_sql('text', ch) for ch in _CODE_SYMS)}
              AS BIGINT) AS n_sym,
         CAST({' + '.join(f"({_char_count_sql('text', kw)} / {len(kw)})" for kw in _CODE_KWS)}
              AS BIGINT) AS n_kw
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, n_sym, n_kw,
       CAST(floor(CAST(n_sym + 10 * n_kw AS DOUBLE) * 1000000.0 / n)
            AS BIGINT) AS code_score_micro,
       CAST(floor(CAST(n_sym + 10 * n_kw AS DOUBLE) * 1000000.0 / n)
            >= {_CODE_THRESH_MICRO} AS BOOLEAN) AS is_code
FROM c ORDER BY doc_id
""",
    tags=("llm", "text"),
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic detector — the curation-pipeline router
    that decides whether a crawled document flows to the code or the
    natural-language branch (code must NOT be scored by prose quality
    rules: `text_gopher_rules` would reject every real source file).
    Signal = density of code punctuation ({_CODE_SYMS!r}) plus 10×
    weighted language keywords, per character. Every count is an exact
    replace-diff integer (no regex engine in the hot path — replace()
    is SIMD-friendly and semantically identical on both engines), the
    score is one late scale-before-divide to integer micro-units, and
    the verdict is an integer threshold compare, so the oracle is a
    full value-hash. Shape: pure per-row expression work — zero
    shuffles, runs inside whole-stage codegen at scan speed; at 100 TB
    this is a free rider on any existing corpus pass."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_sym = None
    for ch in _CODE_SYMS:
        t = F.length("text") - F.length(F.replace(F.col("text"), F.lit(ch)))
        n_sym = t if n_sym is None else n_sym + t
    n_kw = None
    for kw in _CODE_KWS:
        t = (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(kw)))
        ) / len(kw)
        n_kw = t if n_kw is None else n_kw + t
    score = F.floor(
        (F.col("n_sym") + 10 * F.col("n_kw")).cast("double")
        * 1_000_000.0
        / F.col("n_chars")
    ).cast("long")
    return (
        d.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            n_sym.cast("long").alias("n_sym"),
            n_kw.cast("long").alias("n_kw"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_sym",
            "n_kw",
            score.alias("code_score_micro"),
            (score >= _CODE_THRESH_MICRO).alias("is_code"),
        )
    )
