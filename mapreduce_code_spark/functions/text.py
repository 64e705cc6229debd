"""Text analysis for LLM training-data pipelines: token counting,
language-ID heuristic, quality scoring, and winnowing fingerprints.

Everything here is pure built-in-function column algebra (JVM-side, whole-
stage-codegen'd — no Python in the hot path) and each operator has an
exactly-equivalent DuckDB SQL twin: counts are integers, ratios are single
divisions of integers, and hashes are md5-derived, so results are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_code_spark import cache
from mapreduce_code_spark.partitioning import spread

# Marker stopwords per language for the n-gram/marker-vote heuristic.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "that"]
MARKERS = {
    "en": STOPWORDS_EN,
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "es": ["el", "los", "las", "una", "es", "y", "que"],
}
CJK_RE = r"[\x{4e00}-\x{9fff}]"  # same syntax in Java regex and RE2

# BPE-ish pre-tokenizer: letter runs, digit runs, or single punctuation.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _count_in(words_col, vocab: list[str]):
    return F.size(F.filter(words_col, lambda w: w.isin(vocab)))


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document counting stats: ``(doc_id, n_words, n_unique_words,
    n_tokens, n_stopwords, chars_per_word, stopword_ratio)``."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_stop = _count_in(words, STOPWORDS_EN)
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_unique_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)).alias(
            "n_tokens"
        ),
        n_stop.alias("n_stopwords"),
        (F.length("text") / n_words).alias("chars_per_word"),
        (n_stop / n_words).alias("stopword_ratio"),
    )


def text_stats_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       len(list_distinct(string_split(text, ' '))) AS n_unique_words,
       len(regexp_extract_all(text, '{TOKEN_RE.replace("'", "''")}')) AS n_tokens,
       len(list_filter(string_split(text, ' '), w -> w IN ({stop}))) AS n_stopwords,
       length(text) / len(string_split(text, ' ')) AS chars_per_word,
       len(list_filter(string_split(text, ' '), w -> w IN ({stop})))
           / len(string_split(text, ' ')) AS stopword_ratio
FROM documents
"""


def _lang_parts():
    """The language-ID expressions over ``text`` — exposed separately so
    single-scan compositions (``plans/pipeline.curated_corpus``) can
    inline ``pred`` without a join. Returns (marker_counts, c_zh, pred)."""
    words = F.split(F.col("text"), " ")
    c = {ln: _count_in(words, ms) for ln, ms in MARKERS.items()}
    c_zh = F.size(F.regexp_extract_all(F.col("text"), F.lit(CJK_RE), 0))
    pred = (
        F.when(c_zh > 0, "zh")
        .when((c["en"] >= c["de"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["es"]), "en")
        .when((c["de"] >= c["fr"]) & (c["de"] >= c["es"]), "de")
        .when(c["fr"] >= c["es"], "fr")
        .otherwise("es")
    )
    return c, c_zh, pred


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic: count marker hits per language,
    CJK characters decide 'zh', ties break en > de > fr > es. Returns
    ``(doc_id, lang, pred_lang, c_en, c_de, c_fr, c_es, c_zh)`` so
    accuracy vs the generator's ``lang`` label is measurable."""
    c, c_zh, pred = _lang_parts()
    return documents.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        c["en"].alias("c_en"),
        c["de"].alias("c_de"),
        c["fr"].alias("c_fr"),
        c["es"].alias("c_es"),
        c_zh.alias("c_zh"),
    )


def lang_id_sql() -> str:
    def cnt(ms):
        lst = ", ".join(f"'{w}'" for w in ms)
        return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"

    c = {ln: cnt(ms) for ln, ms in MARKERS.items()}
    c_zh = f"len(regexp_extract_all(text, '{CJK_RE}'))"
    return f"""
SELECT doc_id, lang,
       CASE WHEN {c_zh} > 0 THEN 'zh'
            WHEN {c['en']} >= {c['de']} AND {c['en']} >= {c['fr']}
                 AND {c['en']} >= {c['es']} THEN 'en'
            WHEN {c['de']} >= {c['fr']} AND {c['de']} >= {c['es']} THEN 'de'
            WHEN {c['fr']} >= {c['es']} THEN 'fr'
            ELSE 'es' END AS pred_lang,
       {c['en']} AS c_en, {c['de']} AS c_de, {c['fr']} AS c_fr,
       {c['es']} AS c_es, {c_zh} AS c_zh
FROM documents
"""


def _shape_counts():
    """The integer text-shape counts both the heuristic quality gates
    and the learned quality filter's features are built from — ONE
    builder so a change to word splitting or the stopword list can
    never drift the two apart. Returns (words, n_words, n_stop,
    n_uniq) Columns."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_stop = _count_in(words, STOPWORDS_EN)
    n_uniq = F.size(F.array_distinct(words))
    return words, n_words, n_stop, n_uniq


def _quality_parts():
    """The quality-gate expressions over ``text`` — exposed separately so
    single-scan compositions can inline ``quality`` without a join.
    Returns (q_len, q_shape, q_stop, q_vocab, quality) Columns, built in
    the exact textual order the oracle SQL mirrors."""
    words, n_words, n_stop, n_uniq = _shape_counts()
    q_len = ((n_words >= 20) & (n_words <= 2000)).cast("int")
    cpw = F.length("text") / n_words
    q_shape = ((cpw >= 3.0) & (cpw <= 12.0)).cast("int")
    sr = n_stop / n_words
    q_stop = ((sr >= 0.05) & (sr <= 0.6)).cast("int")
    q_vocab = ((n_uniq * 2) >= n_words).cast("int")
    quality = (q_len + q_shape + q_stop + q_vocab) / F.lit(4.0)
    return q_len, q_shape, q_stop, q_vocab, quality


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality gate from integer indicator functions (each 0/1,
    summed and scaled — exact arithmetic): length in range, word shape
    sane, stopword density plausible, vocabulary not degenerate.
    Returns ``(doc_id, q_len, q_shape, q_stop, q_vocab, quality)``."""
    q_len, q_shape, q_stop, q_vocab, quality = _quality_parts()
    return documents.select(
        "doc_id",
        q_len.alias("q_len"),
        q_shape.alias("q_shape"),
        q_stop.alias("q_stop"),
        q_vocab.alias("q_vocab"),
        quality.alias("quality"),
    )


def quality_score_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '), w -> w IN ({stop}))) AS n_stop,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CASE WHEN n_words >= 20 AND n_words <= 2000 THEN 1 ELSE 0 END AS q_len,
       CASE WHEN n_chars / n_words >= 3.0 AND n_chars / n_words <= 12.0
            THEN 1 ELSE 0 END AS q_shape,
       CASE WHEN n_stop / n_words >= 0.05 AND n_stop / n_words <= 0.6
            THEN 1 ELSE 0 END AS q_stop,
       CASE WHEN n_uniq * 2 >= n_words THEN 1 ELSE 0 END AS q_vocab,
       (CASE WHEN n_words >= 20 AND n_words <= 2000 THEN 1 ELSE 0 END
        + CASE WHEN n_chars / n_words >= 3.0 AND n_chars / n_words <= 12.0
               THEN 1 ELSE 0 END
        + CASE WHEN n_stop / n_words >= 0.05 AND n_stop / n_words <= 0.6
               THEN 1 ELSE 0 END
        + CASE WHEN n_uniq * 2 >= n_words THEN 1 ELSE 0 END) / 4.0 AS quality
FROM s
"""


WINNOW_WINDOW = 4  # k-grams per winnowing window


def winnow_fingerprint(documents: DataFrame, k: int = 3) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03
    scheme, public): hash every word k-shingle, slide a window of
    ``WINNOW_WINDOW`` consecutive hashes, keep each window's minimum —
    the distinct kept hashes are the fingerprint set.

    Pure window-function dataflow (SURVEY §2.5 coverage): positional
    shingles → md5-derived BIGINT hash → ``min() OVER (ORDER BY pos ROWS
    BETWEEN CURRENT AND N FOLLOWING)`` → distinct. Returns the summary
    ``(doc_id, n_fingerprints, fp_min, fp_max)``.
    """
    words = F.split(F.col("text"), " ")
    # short-doc guard: sequence(0, negative) descends and slice(…, 0, k)
    # throws — emit no shingles instead (the oracle's range() yields none)
    sh = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos_sh = (
        spread(documents)
        .select("doc_id", F.posexplode(sh).alias("pos", "shingle"))
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_WINDOW - 1)
    )
    kept = (
        pos_sh.withColumn("wmin", F.min("h").over(w))
        .select("doc_id", "wmin")
        .distinct()
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("wmin").alias("fp_min"),
        F.max("wmin").alias("fp_max"),
    )


def winnow_fingerprint_sql(k: int = 3) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id,
         unnest(range(len(w) - {k - 1})) AS pos,
         unnest(list_transform(range(len(w) - {k - 1}),
                i -> {" || ' ' || ".join(f"w[i+{j + 1}]" for j in range(k))})) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
hashed AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
  FROM sh
),
kept AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS wmin
  FROM hashed
)
SELECT doc_id, count(*) AS n_fingerprints,
       min(wmin) AS fp_min, max(wmin) AS fp_max
FROM kept GROUP BY doc_id
"""


def tfidf_stats(documents: DataFrame, min_tf: int = 2) -> DataFrame:
    """TF-IDF sufficient statistics per (doc, word): term frequency,
    document frequency, and corpus size — ``(doc_id, word, tf, df,
    n_docs)``, all exact integers.

    The idf transform itself (``log(N/df)``) is deliberately left to the
    consumer: ``log`` is not correctly-rounded-identical across engines,
    so emitting the integer sufficient statistics keeps the operator
    bit-stable cross-engine while losing nothing (the transform is a
    driver-side one-liner).

    Scale: the corpus is exploded ONCE into a single (doc_id, word)
    aggregate; df rides the SAME frame as an unordered window count
    partitioned by word (per_pair rows are distinct pairs, so rows per
    word = doc frequency) — one scan and two keyed exchanges total,
    where the textbook tf⋈df formulation scans and explodes the corpus
    twice and shuffles both join sides. ``min_tf`` prunes the long
    hapax tail AFTER the window (df's definition doesn't carry the tf
    threshold) but before anything downstream — at web scale that tail
    is most of the vocabulary.
    """
    per_pair = (
        spread(documents)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_w = Window.partitionBy("word")
    n_docs = documents.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_pair.withColumn("df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("tf") >= min_tf)
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "word", "tf", "df", "n_docs")
    )


def tfidf_stats_sql(min_tf: int = 2) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
w AS (SELECT * FROM words WHERE word <> ''),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
  HAVING count(*) >= {min_tf}
),
df AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word
)
SELECT tf.doc_id, tf.word, tf.tf, df.df,
       (SELECT count(*) FROM documents) AS n_docs
FROM tf JOIN df USING (word)
"""


# ----------------------------------------------------- repetition (Gopher)

def _word_ngram_array(k: int):
    """Column expr: the document's word k-gram list (space-joined), empty
    for docs shorter than k words (matching the oracles' range())."""
    words = F.split(F.col("text"), " ")
    return F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(documents: DataFrame, n: int = 2) -> DataFrame:
    """Within-document repetition signals — the Gopher/MassiveText
    duplicate-n-gram quality filters (Rae et al. 2021, public), word-level:

    - ``dup_ngram_frac``: fraction of n-gram occurrences whose n-gram
      appears more than once in the doc,
    - ``top_ngram_frac``: occurrences of the single most frequent n-gram
      over all n-gram occurrences.

    Returns ``(doc_id, n_ngrams, n_dup_ngrams, top_ngram_count,
    dup_ngram_frac, top_ngram_frac)``. Docs shorter than n words emit no
    row (they have no n-grams to judge).

    Scale: explode → one (doc_id, gram) count with map-side partials →
    one doc-level rollup; both shuffles are keyed on doc_id(+gram), so
    hot keys are bounded by document length, not corpus size.
    """
    per_gram = (
        spread(documents)
        .select("doc_id", F.explode(_word_ngram_array(n)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
            "n_dup_ngrams"
        ),
        F.max("c").alias("top_ngram_count"),
    )
    return agg.select(
        "doc_id",
        "n_ngrams",
        "n_dup_ngrams",
        "top_ngram_count",
        (F.col("n_dup_ngrams") / F.col("n_ngrams")).alias("dup_ngram_frac"),
        (F.col("top_ngram_count") / F.col("n_ngrams")).alias("top_ngram_frac"),
    )


def repetition_stats_sql(n: int = 2) -> str:
    gram = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(n))
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - {n - 1}), i -> {gram})) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c) AS n_ngrams,
         coalesce(sum(c) FILTER (c > 1), 0) AS n_dup_ngrams,
         max(c) AS top_ngram_count
  FROM c GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_dup_ngrams AS BIGINT) AS n_dup_ngrams,
       CAST(top_ngram_count AS BIGINT) AS top_ngram_count,
       CAST(n_dup_ngrams AS DOUBLE) / n_ngrams AS dup_ngram_frac,
       CAST(top_ngram_count AS DOUBLE) / n_ngrams AS top_ngram_frac
FROM agg
"""


# --------------------------------------------------- contamination check

def ngram_contamination(
    documents: DataFrame, eval_docs: DataFrame, k: int = 3
) -> DataFrame:
    """Benchmark-contamination scan — the standard train/test n-gram
    overlap check LLM pipelines run before training (the GPT-3 paper's
    13-gram dedup is the canonical public description; k is a parameter
    because the right n depends on tokenization and document length).

    A training doc is contaminated when it shares at least one word
    k-gram with any eval-suite doc. Returns ``(doc_id,
    n_shared_ngrams)`` for contaminated training docs only, where
    ``n_shared_ngrams`` counts the doc's DISTINCT k-grams that appear
    anywhere in the eval suite.

    Scale: the eval suite is tiny relative to the corpus (benchmarks are
    thousands of docs, the corpus is billions), so its distinct-gram set
    broadcasts; the training side is one explode + broadcast semi-join +
    per-doc count — the corpus never shuffles its text, only (doc_id,
    gram) survivors of the semi-join.
    """
    ev = (
        eval_docs.select(F.explode(_word_ngram_array(k)).alias("gram"))
        .distinct()
    )
    train_grams = (
        spread(documents)
        .select("doc_id", F.explode(_word_ngram_array(k)).alias("gram"))
        .distinct()
    )
    return (
        train_grams.join(F.broadcast(ev), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def ngram_contamination_sql(
    k: int = 3, eval_pred: str = "doc_id % 97 = 0"
) -> str:
    gram = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(k))
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - {k - 1}), i -> {gram})) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
ev AS (SELECT DISTINCT gram FROM g WHERE {eval_pred}),
hits AS (
  SELECT DISTINCT g.doc_id, g.gram
  FROM g JOIN ev USING (gram)
  WHERE NOT ({eval_pred.replace('doc_id', 'g.doc_id')})
)
SELECT doc_id, count(*) AS n_shared_ngrams
FROM hits GROUP BY doc_id
"""


# ------------------------------------------------------- PII redaction

# Conservative common-subset patterns: no backreferences, no lookaround —
# identical match semantics in Java regex (Spark, JVM-side) and RE2
# (DuckDB oracle). Redaction order is fixed (email → phone → IP), which
# makes the composed rewrite deterministic; the patterns CAN overlap on
# pathological input (EMAIL_RE's local part may swallow a phone-shaped
# token like '+1-555-123-4567@x.co', which then redacts as one <EMAIL>),
# so the pre-redaction per-pattern counts are independent tallies, not a
# partition of the redacted spans.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{3,4}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass: mask
    emails, international phone numbers, and IPv4 addresses with typed
    placeholder tags. Returns ``(doc_id, redacted, n_emails, n_phones,
    n_ips)`` with counts taken BEFORE redaction.

    Pure built-in column algebra (``regexp_extract_all`` +
    ``regexp_replace`` — JVM-side, codegen'd, no Python in the hot
    path); a narrow map over the corpus, no shuffle at any scale.
    """
    t = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return spread(documents).select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).cast("bigint").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0)).cast("bigint").alias("n_ips"),
    )


def plant_pii(documents: DataFrame) -> DataFrame:
    """Append a deterministic contact line (one email, one phone, one
    IPv4, all derived from ``doc_id``) to every document. The driver's
    synthetic corpus contains no PII-shaped strings at all, so a
    redaction query over the raw table would be vacuously green; the
    planted line makes the cross-engine check bite — the md5 of the
    redacted text then proves both engines matched and replaced exactly
    the same spans."""
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com or +1-555-"),
        (d % 900 + 100).cast("string"),
        F.lit("-"),
        (d % 9000 + 1000).cast("string"),
        F.lit(" at 10.0."),
        (d % 256).cast("string"),
        F.lit(".7"),
    )
    return documents.withColumn("text", planted)


def redact_pii_planted_sql() -> str:
    """DuckDB twin of ``redact_pii(plant_pii(documents))`` with the
    redacted text collapsed to its md5 (the registered query's shape)."""
    return rf"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
              || CAST(doc_id % 9000 + 1000 AS VARCHAR)
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g'),
             '{IPV4_RE}', '<IP>', 'g')) AS redacted_md5,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ips
FROM planted
"""


# ------------------------------------------ model-based quality filter

# Fixed linear-model weights in integer micros: z = 2.0·uniq_ratio
# + 3.0·min(stopword_ratio, 0.2) − 0.2·chars_per_word, keep iff z > 0
# (calibrated to split the driver corpus near 50%, so both classes are
# non-trivially populated at every SF). The stopword feature is CAPPED:
# natural prose earns the reward, but a degenerate all-stopword document
# must not ride an unbounded stopword term past the uniqueness collapse
# (hand-checked in tests). Integer weights × integer-quantized features
# keep the decision EXACT cross-engine — deliberately no sigmoid: exp()
# is not correctly-rounded and differs between libm implementations, so
# a probability output could flip the keep bit in the last ulp. The
# monotone sigmoid adds nothing to a threshold decision.
QC_W_UNIQ = 2_000_000
QC_W_STOP = 3_000_000
QC_STOP_CAP = 0.2
QC_W_CPW = -200_000


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Model-based quality filtering — the trained-classifier curation
    stage (GPT-3/LLaMA-style quality model) as a fixed-weight linear
    scorer over engineered features. Returns ``(doc_id, z_micro, keep)``
    with ``z_micro = Σ wᵢ·q6(xᵢ)`` (micro² units; sign is what matters)
    and ``keep`` as BIGINT 0/1.

    Exactness: each feature ratio is one IEEE double division of exact
    integers, quantized at 1e-6 (``floor(r·1e6 + 0.5)``); the score is
    then pure int64 arithmetic. NULL text coalesces to '' FIRST (both
    engines) — without it Spark's ``(NULL > 0)`` keep bit is NULL while
    the SQL twin's CASE yields 0, breaking parity on one null doc.
    Scale: narrow map over the corpus, no shuffle, whole-stage codegen.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    words = F.split(text, " ")
    n_words = F.size(words)
    q6 = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint")
    r_uniq = F.size(F.array_distinct(words)).cast("double") / n_words
    r_stop = F.least(
        _count_in(words, STOPWORDS_EN).cast("double") / n_words,
        F.lit(QC_STOP_CAP),
    )
    cpw = F.length(text).cast("double") / n_words
    z = (
        F.lit(QC_W_UNIQ) * q6(r_uniq)
        + F.lit(QC_W_STOP) * q6(r_stop)
        + F.lit(QC_W_CPW) * q6(cpw)
    )
    return spread(documents).select(
        "doc_id",
        z.alias("z_micro"),
        (z > 0).cast("bigint").alias("keep"),
    )


def quality_classifier_sql() -> str:
    """DuckDB twin of :func:`quality_classifier` (same divisions, same
    quantization, same integer weights)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(coalesce(text, ''), ' ')) AS n_words,
         len(list_distinct(string_split(coalesce(text, ''), ' '))) AS n_uniq,
         len(list_filter(string_split(coalesce(text, ''), ' '),
             w -> w IN ({stop_list}))) AS n_stop,
         length(coalesce(text, '')) AS n_chars
  FROM documents
), z AS (
  SELECT doc_id,
         {QC_W_UNIQ} * CAST(floor(CAST(n_uniq AS DOUBLE) / n_words
             * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       + {QC_W_STOP} * CAST(floor(least(CAST(n_stop AS DOUBLE) / n_words,
             CAST({QC_STOP_CAP!r} AS DOUBLE))
             * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       + ({QC_W_CPW}) * CAST(floor(CAST(n_chars AS DOUBLE) / n_words
             * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS z_micro
  FROM f
)
SELECT doc_id, z_micro,
       CAST(CASE WHEN z_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM z
"""


# ---------------------------------------------------------------------------
# BPE vocabulary training (round-5 verdict #4): the canonical
# MapReduce-shaped iterative text algorithm — per-round corpus-wide pair
# counts feeding a greedy merge — and the real version of the tokenizer
# that TOKEN_RE (text_stats' BPE-ish regex proxy, SURVEY §8.3) stubs out.
# Reference parity: the reference's iterative jobs chain map-side counts
# into a driver-picked argmax exactly like apriori's support loop
# (apriori_final.java:233-295); BPE itself is public (Sennrich et al.
# 2016, "Neural Machine Translation of Rare Words with Subword Units"),
# re-derived here as DataFrame ops.
# ---------------------------------------------------------------------------

# Word pre-tokenization for BPE: lowercase ASCII letter/digit runs only,
# so symbol strings and tie-breaks are pure-ASCII and cross-engine
# collation cannot diverge.
BPE_WORD_RE = "[a-z0-9]+"
BPE_MERGES = 8


def bpe_merges(documents: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Byte-pair-encoding vocabulary training: learn the first
    ``n_merges`` merge rules over the corpus word-frequency dictionary.
    Returns one row per merge round: ``(merge_round, lhs, rhs, merged,
    pair_cnt)`` — pair_cnt is the EXACT integer corpus frequency of the
    winning adjacent symbol pair at that round (ties break on the
    lexicographically smallest (lhs, rhs), so the sequence is
    deterministic and bit-identical cross-engine).

    Representation: each distinct word is a "spaced symbol string" —
    every symbol wrapped in single spaces, so adjacent symbols meet at a
    double space (``"abc"`` → ``" a  b  c "``). Applying a merge is then
    ONE literal string ``replace`` of ``" l  r "`` with ``" lr "``:
    left-to-right non-overlapping replacement is exactly BPE's greedy
    merge order, and Spark's ``replace`` and DuckDB's ``replace`` agree
    on it. No regex in the loop, no Python, no UDF.

    Scale shape: the only corpus-sized stage is the initial word-count
    (one explode + one map-side-combined shuffle); every round after
    operates on the word-FREQUENCY dictionary (vocab-sized, Zipf-small
    relative to the corpus). Per round: one pair-explode + one
    map-side-combined pair-count shuffle, a top-1 via orderBy+limit(1)
    (TakeOrderedAndProject — never a global sort), and a broadcast
    single-row crossJoin carrying the winning pair into a shuffle-free
    column-level replace. Loop inputs are persisted and lineage-cut per
    round (``localCheckpoint(eager=False)``) like the graph fixpoints.
    At 100 TB the dictionary still fits executor memory in aggregate;
    nothing in the loop ever re-touches the raw corpus."""
    if n_merges < 1:
        raise ValueError(
            f"n_merges must be >= 1, got {n_merges}: a BPE vocabulary "
            "with zero merge rounds has no merge table to return"
        )

    words = cache.persist(
        documents.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(BPE_WORD_RE), 0
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace("word", r"(.)", " $1 ").alias("spaced"), "freq"
        )
    )
    tops = []
    for i in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("spaced")), "  ")
        # adjacent pairs: element j zipped with element j+1 (1-based
        # element_at); transform's index arg is 0-based
        pairs = F.transform(
            F.slice(syms, 1, F.size(syms) - 1),
            lambda x, j: F.struct(
                x.alias("lhs"),
                F.element_at(syms, j + F.lit(2)).alias("rhs"),
            ),
        )
        top = (
            words.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        tops.append(
            top.select(
                F.lit(i).alias("merge_round"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                "cnt",
            )
        )
        pat = F.concat(F.lit(" "), F.col("lhs"), F.lit("  "), F.col("rhs"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("lhs"), F.col("rhs"), F.lit(" "))
        words = (
            words.crossJoin(F.broadcast(top))
            .select(F.replace(F.col("spaced"), pat, rep).alias("spaced"), "freq")
            .localCheckpoint(eager=False)
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out.select(
        "merge_round", "lhs", "rhs", "merged", F.col("cnt").alias("pair_cnt")
    )


def _bpe_train_ctes(n_merges: int) -> list[str]:
    """The unrolled training-CTE chain shared by :func:`bpe_merges_sql`
    and :func:`bpe_encode_sql`: ``tok``/``words_0`` plus
    ``syms_i``/``pairs_i``/``top_i``/``words_i`` per round."""
    parts = [
        f"""WITH tok AS MATERIALIZED (
  SELECT unnest(regexp_extract_all(lower(text), '{BPE_WORD_RE}')) AS word
  FROM documents
),
words_0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') AS spaced,
         count(*) AS freq
  FROM tok GROUP BY word
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f"""syms_{i} AS MATERIALIZED (
  SELECT string_split(trim(spaced), '  ') AS s, freq FROM words_{i - 1}
),
pairs_{i} AS MATERIALIZED (
  SELECT s[j] AS lhs, s[j + 1] AS rhs, freq
  FROM syms_{i}, UNNEST(generate_series(1, len(s) - 1)) AS t(j)
),
top_{i} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM (
    SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
    FROM pairs_{i} GROUP BY lhs, rhs)
  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
),
words_{i} AS MATERIALIZED (
  -- COALESCE: if the corpus exhausts learnable pairs before round
  -- {i}, top_{i} is EMPTY and the scalar subqueries yield NULL —
  -- replace(x, NULL, NULL) would NULL-poison every word; an
  -- impossible needle (chr(1) never appears in [a-z0-9 ] symbol
  -- strings) makes the exhausted round an identity map instead,
  -- mirroring the Spark side where an empty top contributes no rule
  SELECT replace(spaced,
                 COALESCE((SELECT ' ' || lhs || '  ' || rhs || ' '
                           FROM top_{i}), chr(1)),
                 COALESCE((SELECT ' ' || lhs || rhs || ' '
                           FROM top_{i}), '')) AS spaced,
         freq
  FROM words_{i - 1}
)""")
        # words_{n_merges} is generated but unused by the merge-table
        # select — harmless, and keeping the loop uniform keeps the twin
        # trivially diffable per round
    return parts


def bpe_merges_sql(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin of :func:`bpe_merges` — the merge loop unrolled as
    chained CTEs (same spaced-symbol representation, same literal
    replace, same (cnt desc, lhs, rhs) tie-break)."""
    selects = [
        f"SELECT {i} AS merge_round, lhs, rhs, lhs || rhs AS merged,"
        f" cnt AS pair_cnt FROM top_{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        ",\n".join(_bpe_train_ctes(n_merges))
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def bpe_encode_sql(
    n_merges: int = BPE_MERGES, doc_predicate: str = "TRUE"
) -> str:
    """DuckDB twin of train-then-encode: the :func:`_bpe_train_ctes`
    chain learns ``top_1..top_n`` from the FULL corpus, then the
    documents matching ``doc_predicate`` are re-tokenized word by word
    through the same unrolled replace chain (``dw_i`` mirrors
    ``words_i`` but keeps doc identity and word order). ``pos`` is the
    0-based token position within the document — derived by ranking
    (word index, token-within-word index), exactly posexplode's
    flattened order."""
    parts = list(_bpe_train_ctes(n_merges))
    parts.append(f"""dwords AS MATERIALIZED (
  SELECT doc_id, wi, ws[wi] AS word FROM (
    SELECT doc_id,
           regexp_extract_all(lower(text), '{BPE_WORD_RE}') AS ws
    FROM documents WHERE {doc_predicate}
  ), UNNEST(generate_series(1, len(ws))) AS t(wi)
),
dw_0 AS MATERIALIZED (
  SELECT doc_id, wi,
         regexp_replace(word, '(.)', ' \\1 ', 'g') AS spaced
  FROM dwords
)""")
    for i in range(1, n_merges + 1):
        parts.append(f"""dw_{i} AS MATERIALIZED (
  -- same exhausted-round identity guard as words_{i} (see
  -- _bpe_train_ctes): an empty top_{i} must skip, not NULL-poison
  SELECT doc_id, wi,
         replace(spaced,
                 COALESCE((SELECT ' ' || lhs || '  ' || rhs || ' '
                           FROM top_{i}), chr(1)),
                 COALESCE((SELECT ' ' || lhs || rhs || ' '
                           FROM top_{i}), '')) AS spaced
  FROM dw_{i - 1}
)""")
    parts.append(f"""dtoks AS MATERIALIZED (
  SELECT doc_id, wi, string_split(trim(spaced), '  ') AS ts FROM dw_{n_merges}
),
dflat AS MATERIALIZED (
  SELECT doc_id, wi, j, ts[j] AS token
  FROM dtoks, UNNEST(generate_series(1, len(ts))) AS t(j)
)""")
    return (
        ",\n".join(parts)
        + """
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, j) - 1
            AS INTEGER) AS pos,
       token
FROM dflat"""
    )


def bpe_encode(documents: DataFrame, merges: DataFrame) -> DataFrame:
    """Tokenize documents with a trained BPE merge table — the apply
    half of :func:`bpe_merges` (Sennrich et al. 2016). ``merges`` is the
    training output ``(merge_round, lhs, rhs, ...)``; rules are applied
    in training order, each as the same ONE literal replace over the
    spaced-symbol representation (`` l  r `` → `` lr ``, greedy
    left-to-right), so encode and train agree exactly on merge
    semantics. Returns the corpus token stream ``(doc_id, pos, token)``
    — ``pos`` is the 0-based token position within the document; docs
    with no ``BPE_WORD_RE`` words emit no rows.

    Scale shape: the merge table folds into ONE array in a single-row
    broadcast (rule count is a config constant, like IVF centroids; the
    only exchange anywhere is that bounded single-row aggregate), and
    encoding is a per-row ``aggregate`` fold of literal replaces inside
    one projection — one corpus scan, zero corpus-side shuffles, no
    Python, no per-rule join. Merges never cross word boundaries because
    each word is spaced and folded independently inside ``transform``."""
    marr = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_round", "lhs", "rhs"))
        ).alias("_bpe_rules")
    )
    rules = F.col("_bpe_rules")

    def enc_word(w):
        spaced = F.regexp_replace(w, r"(.)", " $1 ")
        folded = F.aggregate(
            rules,
            spaced,
            lambda acc, m: F.replace(
                acc,
                F.concat(
                    F.lit(" "), m["lhs"], F.lit("  "), m["rhs"], F.lit(" ")
                ),
                F.concat(F.lit(" "), m["lhs"], m["rhs"], F.lit(" ")),
            ),
        )
        return F.split(F.trim(folded), "  ")

    words = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(BPE_WORD_RE), 0
    )
    return (
        documents.crossJoin(F.broadcast(marr))
        .select(
            "doc_id",
            F.posexplode(F.flatten(F.transform(words, enc_word))).alias(
                "pos", "token"
            ),
        )
    )
