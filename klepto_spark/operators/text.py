"""Text-analysis operators over document tables (engine extension, M5).

The reference has no text operators (SURVEY §2.7 — its only scalar surface is
the anonymiser); these are the training-data-pipeline additions mandated by
the north star: language ID, quality scoring, token counting, document
fingerprinting. All hot paths are built-in Spark SQL expressions (JVM-side,
codegen) — no Python UDFs.

Scale notes: every operator here is a narrow map over the documents table —
no shuffle, no skew sensitivity; predicate pushdown and column pruning reach
the parquet scan untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# Top stopwords per language for the n-gram/stopword-ratio language ID
# heuristic. Counting via split-size keeps it expressible in plain SQL for
# the DuckDB oracle.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "que"],
    "es": ["el", "la", "de", "que", "los", "es", "una", "por"],
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count (split on runs of whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+")).cast("bigint")


def word_tokens(col: Column | str) -> Column:
    """Lowercased word tokens via a BPE-ish word regex: letter runs, digit
    runs, or single punctuation — the classic pre-tokenisation split."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c),
                                F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)


def _count_occurrences(c: Column, needle: str) -> Column:
    """Occurrences of a literal inside a string via length arithmetic —
    no regex, identical semantics in any SQL engine."""
    return ((F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
            / len(needle)).cast("bigint")


def padded_sql(col: str) -> str:
    """SQL for the space-padded, lowercased, punctuation-stripped text
    every stopword count scans. Exposed so callers can materialise it
    ONCE as a column (see :func:`with_lang_id`) instead of inlining the
    6-replace chain into every per-word term."""
    p = f"concat(' ', lower(`{col}`), ' ')"
    for ch in [",", ".", ";", ":", "!", "?"]:
        p = f"replace({p}, '{ch}', ' ')"
    return p


def stopword_hits_over(p: str, lang: str) -> str:
    """SQL counting ``lang`` stopword occurrences over an ALREADY padded
    fragment ``p`` (a column reference or :func:`padded_sql` text).
    Token-identical arithmetic to the historical inline form."""
    hits = [
        f"CAST(((length({p}) - length(replace({p}, ' {w} ', ''))) "
        f"/ {len(w) + 2}) AS BIGINT)"
        for w in LANG_STOPWORDS[lang]]
    total = hits[0]
    for h in hits[1:]:
        total = f"({total} + {h})"
    return f"CAST({total} AS BIGINT)"


def stopword_hits(col: Column | str, lang: str) -> Column:
    """How many stopword occurrences of ``lang`` appear in the text
    (padded word-boundary count).

    A string ``col`` (column name) builds the whole padded-replace /
    length-arithmetic tree as ONE F.expr parse — the Column-by-Column
    form cost ~80 py4j round-trips per language (optimization r14); the
    parsed tree is token-identical, pinned by
    test_stopword_hits_expr_matches_column."""
    if isinstance(col, str):
        return F.expr(stopword_hits_over(padded_sql(col), lang))
    c = col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    # strip common punctuation so boundaries are spaces
    for ch in [",", ".", ";", ":", "!", "?"]:
        padded = F.replace(padded, F.lit(ch), F.lit(" "))
    total = None
    for w in LANG_STOPWORDS[lang]:
        hits = _count_occurrences(padded, f" {w} ")
        total = hits if total is None else total + hits
    return total.cast("bigint")


def lang_id(col: Column | str) -> Column:
    """Pick the language whose stopword list scores highest; 'und' when all
    score zero. Deterministic tie-break by language code order."""
    scores = [(lang, stopword_hits(col, lang)) for lang in sorted(LANG_STOPWORDS)]
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    # left-to-right fold keeps the first max -> deterministic tie-break
    for lang, score in scores:
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_pred") -> DataFrame:
    """:func:`lang_id` as THREE stacked projections: padded text, then
    the per-language scores, then the fold — each materialised once per
    row.

    The single-Column form inlines the 6-replace padded chain into
    every per-word term and the when-fold duplicates each score tree
    ~2× per level, so one row rebuilt the padded document hundreds of
    times (runtime subexpression elimination did not rescue it:
    measured 1.27 s for the inline form vs 0.45 s for this shape at
    sf0.1 — 2.8×, identical values). CollapseProject keeps the stages
    apart because each alias is non-cheap and multiply referenced
    (optimization r14, guide §1.2 step 2). Same fold order, same
    'und' zero-score default, same first-max tie-break — bit-identical
    output to :func:`lang_id`."""
    langs = sorted(LANG_STOPWORDS)
    # intermediate names must not shadow caller data: withColumn would
    # silently REPLACE an existing column and the final select(*df.columns)
    # would return the scratch value in the user's column (ADVICE r14)
    pad = "_lang_p"
    while pad in df.columns:
        pad += "_"
    sfx = ""
    while any(f"_lang_s_{lang}{sfx}" in df.columns for lang in langs):
        sfx += "_"
    d = df.withColumn(pad, F.expr(padded_sql(text_col)))
    d = d.select(*df.columns,
                 *[F.expr(stopword_hits_over(f"`{pad}`", lang))
                   .alias(f"_lang_s_{lang}{sfx}") for lang in langs])
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("bigint")
    for lang in langs:
        score = F.col(f"_lang_s_{lang}{sfx}")
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return d.select(*df.columns, best_lang.alias(out_col))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio / mean-word-length
    features plus a composite [0,1] quality score (heuristics in the spirit
    of Gopher/C4 quality filtering)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("bigint")
    n_tokens = token_count(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    # NO rounding anywhere: every ratio is an IEEE division of exact
    # integers and every combination keeps one fixed association order,
    # so the raw doubles are bit-identical across engines. round() is the
    # trap here, not the safety net — Spark (BigDecimal HALF_UP) and
    # DuckDB disagree by one ulp on exact .5-at-the-6th-digit sums
    # (surfaced at sf0.1: ~20 of 5000 docs hit a halfway quality_score).
    # A stacked-projection rewrite (the with_lang_id shape) measured a
    # WASH here — 0.467 vs 0.481 s at sf0.1 — because the cost is the
    # two regexp scans, each referenced via cheap attributes already;
    # kept single-projection (optimization r14, examined).
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    mean_word_len = n_alpha / F.greatest(n_tokens, F.lit(1))
    stop_ratio = stopword_hits(c, "en") / F.greatest(n_tokens, F.lit(1))
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * 0.25
        + F.least(F.lit(1.0), stop_ratio * 5) * 0.25
        + alpha_ratio * 0.25
        + (1 - F.least(F.lit(1.0), punct_ratio * 10)) * 0.25)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def fingerprint(col: Column | str, algo: str = "md5") -> Column:
    """Whole-document content fingerprint (exact-dup key). md5 keeps the
    DuckDB oracle value-identical."""
    c = F.col(col) if isinstance(col, str) else col
    if algo == "md5":
        return F.md5(c)
    if algo == "xxhash":
        return F.xxhash64(c)  # faster, Spark-only (no oracle parity)
    raise ValueError(f"unknown fingerprint algo {algo!r}")


def rolling_hash_fingerprint(col: Column | str, window: int = 8) -> Column:
    """Winnowing-style fingerprint: min md5 over character shingles of
    ``window`` chars — robust to small appends, cheap (one pass, no
    shuffle). Returns the minimum shingle hash as hex."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c) - F.lit(window - 1), F.lit(1))
    shingles = F.transform(F.sequence(F.lit(1), n),
                           lambda i: F.md5(F.substring(c, i, window)))
    return F.array_min(shingles)


def word_repetition(df: DataFrame, text_col: str = "text",
                    key_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document: word count,
    distinct-word count and ratio, and the most frequent word's share
    (high top-word share / low distinct ratio flag degenerate or
    boilerplate text for corpus filtering).

    Two hash-aggregations after an explode; both shuffles carry
    (doc key, word) / (doc key) only — linear in corpus size, no joins.
    ``top_word`` ties break to the lexicographically largest word via a
    struct max, the same rule the SQL oracle replays, so output is
    deterministic. Ratios are double divisions of identical integers in
    both engines — bit-exact before the round."""
    words = (df.select(F.col(key_col),
                       F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
                       .alias("w"))
             .filter(F.col("w") != ""))
    per_word = (words.groupBy(key_col, "w")
                .agg(F.count(F.lit(1)).alias("c")))
    return (per_word.groupBy(key_col)
            .agg(F.sum("c").alias("n_words"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 # one struct max carries BOTH the top count and its word
                 F.max(F.struct(F.col("c"), F.col("w"))).alias("_top"))
            .select(F.col(key_col),
                    F.col("n_words"),
                    F.col("n_distinct"),
                    # unrounded: identical exact-int divisions are
                    # bit-identical across engines; round() itself is the
                    # cross-engine hazard at halfway points (see
                    # quality_features)
                    (F.col("n_distinct") / F.col("n_words"))
                    .alias("distinct_ratio"),
                    (F.col("_top.c") / F.col("n_words"))
                    .alias("top_word_ratio"),
                    F.col("_top.w").alias("top_word")))


def word_repetition_sql(table: str = "documents", text_col: str = "text",
                        key_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`word_repetition` (same aggregation, same
    struct-max tie-break: among max-count words, the lexicographically
    largest)."""
    return f"""
WITH w AS (SELECT {key_col},
                  unnest(string_split_regex(trim({text_col}), '\\s+')) AS w
           FROM {table}),
c AS (SELECT {key_col}, w, count(*) AS c FROM w WHERE w <> ''
      GROUP BY {key_col}, w),
m AS (SELECT {key_col}, max(c) AS top_c FROM c GROUP BY {key_col})
SELECT c.{key_col},
       CAST(sum(c.c) AS BIGINT) AS n_words,
       count(*) AS n_distinct,
       count(*) * 1.0 / sum(c.c) AS distinct_ratio,
       any_value(m.top_c) * 1.0 / sum(c.c) AS top_word_ratio,
       max(CASE WHEN c.c = m.top_c THEN c.w END) AS top_word
FROM c JOIN m ON c.{key_col} = m.{key_col}
GROUP BY c.{key_col}
"""


def gopher_signals(df: "DataFrame", text_col: str = "text",
                   key_col: str = "doc_id",
                   top_bigram_max: float = 0.20,
                   dup_trigram_max: float = 0.30) -> "DataFrame":
    """Gopher-rule repetition signals (Rae et al. 2021 §A1.1, adapted to
    word level for single-line corpora): per document, the most frequent
    bigram's share of all bigram occurrences and the fraction of trigram
    occurrences that are repeats, plus the keep/drop gate at the given
    thresholds. Complements :func:`word_repetition` (top single word) —
    n-gram-level repetition catches templated/boilerplate text whose
    individual words look diverse.

    Documents shorter than 3 words carry no trigram signal and are
    excluded (both engines apply the identical length rule).

    Scale shape: ONE corpus scan — positions explode codegen'd
    (explode(sequence) + element_at + concat_ws, the exploded_shingles
    lesson: the tempting word_ngrams/transform() HOF runs interpreted
    and measured 4x slower), both n-gram families tagged (n, gram) in
    the same exploded stream, then a three-level hash-aggregate
    (key,n,gram) → (key,n) → (key) with map-side combine, so shuffles
    carry per-doc distinct n-gram counts, never text, and every stage
    is already partitioned by the doc key. Ratios are exact-integer
    divisions — bit-identical across engines — and the gate compares
    those exact doubles to shared literals, so even the boolean is
    hash-checkable."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (df.filter(F.size(words) >= 3)
            .select(F.col(key_col), words.alias("_w")))
    ex = base.select(key_col, "_w",
                     F.explode(F.sequence(F.lit(1), F.size("_w") - 1))
                     .alias("_i"))
    w1 = F.element_at("_w", F.col("_i"))
    w2 = F.element_at("_w", F.col("_i") + 1)
    w3 = F.element_at("_w", F.col("_i") + 2)
    big = F.concat_ws(" ", w1, w2)
    # trigram exists only while a third word remains; the NULL rows the
    # tail positions emit are filtered right after the tag explode
    tri = F.when(F.col("_i") <= F.size("_w") - 2,
                 F.concat_ws(" ", w1, w2, w3))
    tagged = (ex.select(F.col(key_col),
                        F.explode(F.array(
                            F.struct(F.lit(2).alias("n"), big.alias("g")),
                            F.struct(F.lit(3).alias("n"), tri.alias("g"))))
                        .alias("t"))
              .select(key_col, F.col("t.n").alias("n"),
                      F.col("t.g").alias("g"))
              .filter(F.col("g").isNotNull()))
    per_gram = (tagged.groupBy(key_col, "n", "g")
                .agg(F.count(F.lit(1)).alias("c")))
    per_n = (per_gram.groupBy(key_col, "n")
             .agg(F.sum("c").alias("tot"),
                  F.count(F.lit(1)).alias("dst"),
                  # struct max carries the top count and, on count ties,
                  # the lexicographically largest gram — the oracle's rule
                  F.max(F.struct(F.col("c"), F.col("g"))).alias("tp")))
    fin = per_n.groupBy(key_col).agg(
        F.max(F.when(F.col("n") == 2, F.col("tot"))).alias("total_bi"),
        F.max(F.when(F.col("n") == 2, F.col("tp"))).alias("_top"),
        F.max(F.when(F.col("n") == 3, F.col("tot"))).alias("total_tri"),
        F.max(F.when(F.col("n") == 3, F.col("dst"))).alias("distinct_tri"))
    ratio = F.col("_top.c") / F.col("total_bi")
    dup = (F.col("total_tri") - F.col("distinct_tri")) / F.col("total_tri")
    return fin.select(F.col(key_col),
                      (F.col("total_bi") + F.lit(1)).cast("long")
                      .alias("n_words"),
                      ratio.alias("top_bigram_ratio"),
                      F.col("_top.g").alias("top_bigram"),
                      dup.alias("dup_trigram_frac"),
                      ((ratio <= F.lit(top_bigram_max))
                       & (dup <= F.lit(dup_trigram_max))).alias("keep"))


def gopher_signals_sql(table: str = "documents", text_col: str = "text",
                       key_col: str = "doc_id",
                       top_bigram_max: float = 0.20,
                       dup_trigram_max: float = 0.30) -> str:
    """DuckDB oracle for :func:`gopher_signals` — identical n-gram
    generation (lowercase, trim, whitespace split, space-join), identical
    tie-break, identical exact-integer ratio arithmetic."""
    def grams(n: int) -> str:
        return (f"[array_to_string(w[i:i+{n - 1}], ' ') "
                f"FOR i IN range(1, greatest(len(w) - {n - 1}, 0) + 1)]")
    return f"""
WITH words AS (SELECT {key_col},
                      string_split_regex(lower(trim({text_col})), '\\s+') AS w
               FROM {table}),
e AS (SELECT * FROM words WHERE len(w) >= 3),
bc AS (SELECT {key_col}, g, count(*) AS c
       FROM (SELECT {key_col}, unnest({grams(2)}) AS g FROM e)
       GROUP BY 1, 2),
b AS (SELECT {key_col}, sum(c) AS total_bi, max(c) AS top_c
      FROM bc GROUP BY 1),
btop AS (SELECT bc.{key_col},
                any_value(b.total_bi) AS total_bi,
                any_value(b.top_c) AS top_c,
                max(CASE WHEN bc.c = b.top_c THEN bc.g END) AS top_bigram
         FROM bc JOIN b USING ({key_col}) GROUP BY 1),
tc AS (SELECT {key_col}, g, count(*) AS c
       FROM (SELECT {key_col}, unnest({grams(3)}) AS g FROM e)
       GROUP BY 1, 2),
t AS (SELECT {key_col}, sum(c) AS total_tri, count(*) AS distinct_tri
      FROM tc GROUP BY 1)
SELECT b.{key_col},
       CAST(b.total_bi + 1 AS BIGINT) AS n_words,
       b.top_c * 1.0 / b.total_bi AS top_bigram_ratio,
       b.top_bigram,
       (t.total_tri - t.distinct_tri) * 1.0 / t.total_tri
         AS dup_trigram_frac,
       (b.top_c * 1.0 / b.total_bi <= {top_bigram_max}
        AND (t.total_tri - t.distinct_tri) * 1.0 / t.total_tri
            <= {dup_trigram_max}) AS keep
FROM btop b JOIN t USING ({key_col})
"""


def word_ngrams(col: Column | str, n: int) -> Column:
    """Word-level n-grams (lowercased, whitespace-split) as an array of
    space-joined strings; shorter documents yield an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")
    idx = F.when(F.size(words) >= n,
                 F.sequence(F.lit(1), F.size(words) - F.lit(n - 1))) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def contaminated_ids(docs: "DataFrame", bench: "DataFrame",
                     text_col: str = "text", key_col: str = "doc_id",
                     n: int = 8) -> "DataFrame":
    """Benchmark decontamination: documents sharing ANY word n-gram with
    the benchmark set (the GPT-3/Gopher 13-gram rule; ``n`` is a knob
    because synthetic corpora have shorter documents).

    Scale shape: the benchmark side is tiny by definition, so its
    distinct n-grams BROADCAST; the corpus explodes to (doc, gram) pairs
    that are immediately semi-joined against the broadcast set — no
    shuffle touches the corpus, and the explode prunes to the matched
    docs before the distinct. Returns the distinct contaminated keys;
    anti-join it to clean the corpus."""
    from klepto_spark.operators.dedup import fan_out
    bench_grams = (bench
                   .select(F.explode(word_ngrams(text_col, n)).alias("g"))
                   .distinct())
    doc_grams = (fan_out(docs, key_col)
                 .select(F.col(key_col),
                         F.explode(word_ngrams(text_col, n)).alias("g")))
    return (doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
            .select(key_col).distinct())


def contamination_sql(bench_pred: str, text_col: str = "text",
                      key_col: str = "doc_id", n: int = 8,
                      table: str = "documents") -> str:
    """DuckDB oracle for :func:`contaminated_ids` where the benchmark set
    is ``table`` rows matching ``bench_pred`` (self-decontamination, the
    common leak check)."""
    grams = (f"[array_to_string(w[i:i+{n - 1}], ' ') "
             f"FOR i IN range(1, greatest(len(w) - {n - 1}, 0) + 1)]")
    return f"""
WITH words AS (SELECT {key_col},
                      string_split_regex(lower(trim({text_col})), '\\s+') AS w
               FROM {table}),
bg AS (SELECT DISTINCT unnest({grams}) AS g FROM words
       WHERE {key_col} IN (SELECT {key_col} FROM {table} WHERE {bench_pred})),
dg AS (SELECT {key_col}, unnest({grams}) AS g FROM words)
SELECT DISTINCT dg.{key_col} FROM dg JOIN bg USING (g)
"""


def tfidf_top_terms(df: "DataFrame", text_col: str = "text",
                    key_col: str = "doc_id", k: int = 3) -> "DataFrame":
    """Top-k characteristic terms per document by TF-IDF.

    Term weight is ``tf * (N / df)`` — the raw inverse-document-frequency
    odds rather than its logarithm, deliberately: every factor is integer-
    valued, so one multiply + one divide in a pinned association order is
    IEEE-exact and the DuckDB oracle hash-matches to the bit (``ln`` is
    engine-libm territory). Rankings agree with log-idf whenever tf ties
    break on idf alone; the tie-break contract is (score desc, term asc).

    Scale shape: ONE corpus scan. explode_outer -> per-(doc, term) count
    (one shuffle with map-side combine); doc-frequency AND the corpus
    size N both derive from that *already aggregated* (doc, term) frame,
    so Spark's exchange reuse serves every consumer from the same scan +
    shuffle (plan-asserted in tests). explode_outer (not explode) keeps
    NULL-text documents as a NULL-term row — N counts every document,
    exactly like the oracle's COUNT(DISTINCT key) over the table — and
    the NULL/empty terms are filtered after the aggregate, where the
    filter costs one row per doc instead of one per token. N rides as a
    broadcast one-row cross join: no separate driver job, no second
    corpus pass."""
    from klepto_spark.operators.dedup import fan_out
    words_all = (fan_out(df, key_col)
                 .select(F.col(key_col),
                         F.explode_outer(
                             F.split(F.lower(F.trim(F.col(text_col))),
                                     r"\s+")).alias("term")))
    tf_all = words_all.groupBy(key_col, "term").agg(
        F.count(F.lit(1)).alias("tf"))
    nd = tf_all.agg(
        F.countDistinct(F.col(key_col)).cast("double").alias("_n_docs"))
    tf = tf_all.filter(F.col("term").isNotNull() & (F.col("term") != ""))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    # same association order as the oracle: (tf * N) / df in doubles
    score = ((F.col("tf").cast("double") * F.col("_n_docs"))
             / F.col("df_docs").cast("double"))
    from pyspark.sql.window import Window
    w = Window.partitionBy(key_col).orderBy(F.desc("score"), F.asc("term"))
    return (tf.join(dfreq, "term")
            .crossJoin(F.broadcast(nd))
            .withColumn("score", score)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, "term", "tf", "df_docs", "score", "rank"))


def tfidf_sql(text_col: str = "text", key_col: str = "doc_id", k: int = 3,
              table: str = "documents") -> str:
    """DuckDB oracle for :func:`tfidf_top_terms` (same association order:
    ``(tf * N) / df`` in doubles, same (score desc, term asc) tie-break)."""
    return f"""
WITH words AS (
  SELECT {key_col},
         unnest(string_split_regex(lower(trim({text_col})), '\\s+')) AS term
  FROM {table}),
tf AS (SELECT {key_col}, term, COUNT(*) AS tf FROM words
       WHERE term != '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT {key_col}) AS DOUBLE) AS n_docs
      FROM {table}),
scored AS (
  SELECT tf.{key_col}, tf.term, tf.tf, dfreq.df_docs,
         (CAST(tf.tf AS DOUBLE) * n.n_docs) / CAST(dfreq.df_docs AS DOUBLE)
             AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT {key_col}, term, tf, df_docs, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY {key_col}
                ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored) WHERE rank <= {k}
"""


def strip_boilerplate(df: "DataFrame", text_col: str = "text",
                      key_col: str = "doc_id",
                      max_df_ratio: float = 0.9) -> "DataFrame":
    """Corpus-frequency token stripping (the C4/RefinedWeb boilerplate
    rule, applied at token granularity): drop every token that appears in
    more than ``max_df_ratio`` of documents, and reassemble each document
    with its surviving tokens in original order.

    Scale shape: ONE corpus scan. posexplode_outer -> one (doc, token)
    aggregate carrying each token's position list; document frequency,
    the corpus size N, and the final per-document key list ALL derive
    from that aggregate, so exchange reuse serves every consumer from the
    same scan + shuffle (plan-asserted in tests) — no separate driver
    count job, and no second corpus scan for the left-join spine. N rides
    as a broadcast one-row cross join into the keep-list filter. The
    (doc, token) grouping also turns the document-frequency
    count_distinct into a plain count. Documents whose every token is
    boilerplate survive with empty text; document keys are assumed
    unique (it's a document id — duplicate keys would merge)."""
    from klepto_spark.operators.dedup import fan_out
    words_all = (fan_out(df, key_col)
                 .select(F.col(key_col),
                         F.posexplode_outer(
                             F.split(F.lower(F.trim(F.col(text_col))),
                                     r"\s+"))
                         .alias("pos", "tok")))
    g = (words_all.groupBy(key_col, "tok")
         .agg(F.collect_list("pos").alias("poss")))
    nd = g.agg(F.countDistinct(F.col(key_col)).alias("_n_docs"))
    valid = g.filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    # one row per (doc, token) already — document frequency is a count
    dfreq = valid.groupBy("tok").agg(F.count(F.lit(1)).alias("df_docs"))
    keep = (dfreq.crossJoin(F.broadcast(nd))
            .filter(F.col("df_docs")
                    <= F.lit(max_df_ratio) * F.col("_n_docs"))
            .select("tok"))
    # reassembly WITHOUT a document-spine join: the keep list joins in as
    # a flag (left join, broadcast), so every (doc, token) row of ``g`` —
    # including the NULL-token row an empty document gets — survives into
    # the per-document aggregate; dropped tokens just contribute an empty
    # struct array. concat_ws over nothing is '', which is exactly the
    # all-boilerplate/empty-document contract, and no outer join means no
    # inferred not-null filter splitting the reused exchange (the plan
    # test pins ONE scan).
    flagged = g.join(
        F.broadcast(keep.withColumn("_keep", F.lit(True))), "tok", "left")
    structs = F.when(
        F.col("_keep"),
        F.transform(F.col("poss"),
                    lambda p: F.struct(p.alias("pos"),
                                       F.col("tok").alias("tok")))
    ).otherwise(F.array().cast("array<struct<pos:int,tok:string>>"))
    return (flagged.groupBy(key_col)
            .agg(F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.flatten(F.collect_list(structs))),
                    lambda s: s["tok"])).alias("clean_text"))
            .select(F.col(key_col), F.col("clean_text")))


def strip_boilerplate_sql(text_col: str = "text", key_col: str = "doc_id",
                          max_df_ratio: float = 0.9,
                          table: str = "documents") -> str:
    """DuckDB oracle for :func:`strip_boilerplate` (same threshold math,
    ``string_agg ORDER BY pos`` mirrors the sort_array reassembly)."""
    return f"""
WITH n AS (SELECT COUNT(DISTINCT {key_col}) AS n_docs FROM {table}),
words AS (
  SELECT * FROM (
    SELECT {key_col},
           unnest(range(0, len(w))) AS pos,
           unnest(w) AS tok
    FROM (SELECT {key_col},
                 string_split_regex(lower(trim({text_col})), '\\s+') AS w
          FROM {table}))
  WHERE tok != ''),
dfreq AS (SELECT tok, COUNT(DISTINCT {key_col}) AS df_docs FROM words
          GROUP BY tok),
keep AS (SELECT tok FROM dfreq, n WHERE df_docs <= {max_df_ratio} * n_docs),
rebuilt AS (
  SELECT {key_col},
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM words SEMI JOIN keep USING (tok)
  GROUP BY {key_col})
SELECT d.{key_col}, COALESCE(r.clean_text, '') AS clean_text
FROM {table} d LEFT JOIN rebuilt r ON d.{key_col} = r.{key_col}
"""


def trigram_novelty(df: "DataFrame", text_col: str = "text",
                    key_col: str = "doc_id", top_k: int = 500,
                    k: int = 3) -> "DataFrame":
    """Per-document novelty against the corpus's own character-n-gram
    distribution — the exact-arithmetic stand-in for LM-perplexity
    quality filtering: documents whose trigram mass falls mostly outside
    the corpus's ``top_k`` most frequent trigrams are OOV-ish (another
    language, binary junk, boilerplate markup) and score near 1.

    Deliberately NOT cross-entropy: ``ln`` is engine-libm territory
    (1-ulp divergence between JVM and DuckDB breaks value-hash parity,
    the same reason tfidf uses raw ``N/df`` odds). Novelty is
    ``(n_tri - hits) / n_tri`` — one IEEE division of exact BIGINTs.

    Scale shape: ONE corpus scan (explode -> per-(doc, gram) counts, one
    shuffle with map-side combine); the corpus gram table and the top-k
    cut both derive from that aggregated frame, so exchange reuse serves
    every consumer from the same scan. The top-k ranking windows over
    the VOCABULARY (bounded, nowhere near corpus-sized) and rides back
    as a broadcast. Ties at the top-k boundary break on the gram string
    — deterministic in both engines (binary collation)."""
    from pyspark.sql.window import Window as W

    from klepto_spark.operators.dedup import exploded_shingles, fan_out
    dg = (exploded_shingles(fan_out(df, key_col), text_col, key_col, k)
          .groupBy(key_col, "sh").agg(F.count(F.lit(1)).alias("c")))
    corpus = dg.groupBy("sh").agg(F.sum("c").alias("n"))
    rk = F.row_number().over(W.orderBy(F.desc("n"), F.asc("sh")))
    top = (corpus.withColumn("rk", rk).filter(F.col("rk") <= top_k)
           .select("sh", F.lit(1).alias("__hit")))
    agg = (dg.join(F.broadcast(top), "sh", "left")
           .groupBy(key_col)
           .agg(F.sum("c").alias("n_tri"),
                F.coalesce(F.sum(F.when(F.col("__hit").isNotNull(),
                                        F.col("c"))),
                           F.lit(0).cast("bigint")).alias("hits")))
    novelty = ((F.col("n_tri") - F.col("hits")).cast("double")
               / F.col("n_tri").cast("double"))
    return agg.select(key_col, "n_tri", "hits", novelty.alias("novelty"))


def trigram_novelty_sql(table_sql: str = "documents",
                        text_col: str = "text", key_col: str = "doc_id",
                        top_k: int = 500, k: int = 3) -> str:
    """DuckDB twin of :func:`trigram_novelty` (same shingle semantics as
    the t04 oracle, same top-k tie-break, same exact-integer division)."""
    return f"""
WITH __g AS (
  SELECT {key_col}, unnest([substr(lower({text_col}), i, {k})
         FOR i IN range(1, greatest(length({text_col}) - {k - 1}, 1) + 1)])
         AS sh
  FROM {table_sql}),
__dg AS (
  SELECT {key_col}, sh, CAST(COUNT(*) AS BIGINT) AS c
  FROM __g GROUP BY {key_col}, sh),
__corpus AS (SELECT sh, CAST(SUM(c) AS BIGINT) AS n FROM __dg GROUP BY sh),
__top AS (
  SELECT sh FROM (
    SELECT sh, row_number() OVER (ORDER BY n DESC, sh ASC) AS rk
    FROM __corpus) WHERE rk <= {int(top_k)})
SELECT d.{key_col},
       CAST(SUM(d.c) AS BIGINT) AS n_tri,
       CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN d.c ELSE 0 END) AS BIGINT)
           AS hits,
       CAST(CAST(SUM(d.c) AS BIGINT)
            - CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN d.c ELSE 0 END)
                   AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(d.c) AS BIGINT) AS DOUBLE) AS novelty
FROM __dg d LEFT JOIN __top t ON d.sh = t.sh
GROUP BY d.{key_col}"""


def chunk_documents(df: "DataFrame", size: int, overlap: int = 0,
                    text_col: str = "text",
                    key_col: str = "doc_id") -> "DataFrame":
    """Split documents into fixed-size character chunks with optional
    overlap — the retrieval-prep (RAG) companion to sequence packing:
    packing concatenates small docs up to a budget, chunking slices
    large docs down to one. Chunk ``i`` starts at ``1 + i*(size -
    overlap)``; the last chunk may be short; empty/NULL docs emit one
    empty chunk (so no document silently disappears — the same
    no-row-loss rule the shingle operators follow).

    Pure map-side: explode(sequence) + substring, no shuffle at any
    scale; all offset arithmetic is exact integers."""
    if size <= 0 or overlap < 0 or overlap >= size:
        raise ValueError("need size > 0 and 0 <= overlap < size")
    step = size - overlap
    # integer 'div' keeps the index exact (plain / would be double
    # division under ANSI)
    i_max = F.expr(
        f"(greatest(coalesce(length({text_col}), 0), 1) - 1) div {step}")
    start = (F.col("chunk_id") * step + 1).cast("int")
    return (df.select(F.col(key_col), F.col(text_col).alias("_t"),
                      F.explode(F.sequence(F.lit(0), i_max))
                      .alias("chunk_id"))
            .select(F.col(key_col), F.col("chunk_id").cast("int"),
                    start.alias("start"),
                    F.substring(F.col("_t"), start, size).alias("chunk"))
            .withColumn("n_chunk_chars",
                        F.coalesce(F.length("chunk"), F.lit(0))
                        .cast("bigint")))


def chunk_documents_sql(table_sql: str, size: int, overlap: int = 0,
                        text_col: str = "text",
                        key_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`chunk_documents`."""
    step = size - overlap
    return f"""
SELECT {key_col},
       CAST(i AS INTEGER) AS chunk_id,
       CAST(i * {step} + 1 AS INTEGER) AS start,
       substr({text_col}, CAST(i * {step} + 1 AS INTEGER), {size}) AS chunk,
       CAST(coalesce(length(substr({text_col},
            CAST(i * {step} + 1 AS INTEGER), {size})), 0) AS BIGINT)
           AS n_chunk_chars
FROM (SELECT {key_col}, {text_col},
             unnest(range(0, (greatest(coalesce(length({text_col}), 0), 1)
                              - 1) // {step} + 1)) AS i
      FROM {table_sql})"""


def trigram_vocab(df: "DataFrame", text_col: str = "text",
                  key_col: str = "doc_id", top_k: int = 500,
                  k: int = 3) -> "DataFrame":
    """The corpus's top-k trigram vocabulary as a (sh) frame — the
    TRAINED half of :func:`trigram_novelty`, split out so it can be
    persisted once and reused by the streaming scorer (and by repeat
    batch scoring without re-training)."""
    from pyspark.sql.window import Window as W

    from klepto_spark.operators.dedup import exploded_shingles, fan_out
    corpus = (exploded_shingles(fan_out(df, key_col), text_col, key_col, k)
              .groupBy("sh").agg(F.count(F.lit(1)).alias("n")))
    rk = F.row_number().over(W.orderBy(F.desc("n"), F.asc("sh")))
    return (corpus.withColumn("rk", rk).filter(F.col("rk") <= top_k)
            .select("sh"))


def score_novelty(df: "DataFrame", vocab: "DataFrame",
                  text_col: str = "text", key_col: str = "doc_id",
                  k: int = 3) -> "DataFrame":
    """Score documents against an ALREADY-TRAINED vocabulary (from
    :func:`trigram_vocab`, usually read back from parquet). Pure
    explode -> broadcast-left-join -> keyed aggregate: stateless, so it
    runs unchanged on a readStream — the ingest-time quality gate that
    pairs with ``minhash_append``'s ingest-time dedup. Same novelty
    arithmetic as the one-shot operator (exact BIGINT division).

    ONE keyed aggregate (not the trainer's (doc, gram) pre-aggregate,
    which scoring doesn't need): map-side combine already reduces the
    shuffle to one row per key per partition, and a single stateful
    operator is what lets Structured Streaming accept the plan."""
    from klepto_spark.operators.dedup import exploded_shingles
    grams = exploded_shingles(df.select(key_col, text_col), text_col,
                              key_col, k)
    top = vocab.select("sh").withColumn("__hit", F.lit(1))
    agg = (grams.join(F.broadcast(top), "sh", "left")
           .groupBy(key_col)
           .agg(F.count(F.lit(1)).alias("n_tri"),
                F.count("__hit").alias("hits")))
    novelty = ((F.col("n_tri") - F.col("hits")).cast("double")
               / F.col("n_tri").cast("double"))
    return agg.select(key_col, "n_tri", "hits", novelty.alias("novelty"))


def shared_chunk_stats(df: "DataFrame", text_col: str = "text",
                       key_col: str = "doc_id",
                       size: int = 100) -> "DataFrame":
    """C4-style cross-document duplicate-SPAN signal: chunk every
    document into fixed ``size``-char pieces (:func:`chunk_documents`,
    no overlap), fingerprint each chunk, and report per document how
    many of its chunks also occur in ANOTHER document — the
    chunk-level analogue of C4's repeated-three-sentence rule, catching
    shared boilerplate/quoted spans that doc-level dedup (exact or
    near) misses because the surrounding text differs. High
    ``shared_frac`` docs are recombination/boilerplate candidates.

    Scale shape: the chunk explode is map-side; chunks project to md5
    HASHES before any shuffle (the chunk text never moves), the
    cross-doc count is one hash-aggregate on the chunk hash, and the
    join back is hash-keyed — all stages linear in total chunk count.
    Empty chunks are excluded in both engines (an empty tail chunk must
    not read as shared boilerplate).

    Caching contract (ADVICE r14): persists a (key, hash) frame into
    the process-global registry freed only by
    :func:`klepto_spark.operators.dedup.release_caches` — long-lived
    services calling this repeatedly must call it between uses, as
    bench.py does per query, or persisted blocks accumulate."""
    chunks = (chunk_documents(df, size, 0, text_col, key_col)
              .filter(F.col("n_chunk_chars") > 0)
              .select(F.col(key_col), F.md5("chunk").alias("h")))
    # chunks persists (optimization r14): it feeds the cross-doc count
    # AND the join-back probe; when `cross` broadcasts, the probe side
    # sits behind no exchange and the chunk+md5 projection would run
    # twice. (key, h) rows only — text never cached; released via
    # dedup.release_caches (the t18 pattern).
    from klepto_spark.operators.dedup import _PINNED_CACHES
    chunks = chunks.persist()
    _PINNED_CACHES.append(chunks)
    cross = (chunks.groupBy("h")
             .agg(F.countDistinct(key_col).alias("nd")))
    return (chunks.join(cross, "h")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                 .cast("long").alias("shared_chunks"))
            .select(F.col(key_col), F.col("n_chunks"),
                    F.col("shared_chunks"),
                    (F.col("shared_chunks") / F.col("n_chunks"))
                    .alias("shared_frac")))


def shared_chunk_stats_sql(table_sql: str = "documents",
                           text_col: str = "text",
                           key_col: str = "doc_id",
                           size: int = 100) -> str:
    """DuckDB oracle for :func:`shared_chunk_stats` (same chunking, same
    empty-chunk exclusion, exact-integer fraction)."""
    inner = chunk_documents_sql(table_sql, size, 0, text_col, key_col)
    return f"""
WITH __c AS (SELECT {key_col}, md5(chunk) AS h
             FROM ({inner}) WHERE n_chunk_chars > 0),
__g AS (SELECT h, count(DISTINCT {key_col}) AS nd FROM __c GROUP BY h)
SELECT __c.{key_col},
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN __g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_chunks,
       sum(CASE WHEN __g.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
         AS shared_frac
FROM __c JOIN __g USING (h)
GROUP BY __c.{key_col}"""


def cdc_chunk_rows(df: "DataFrame", text_col: str = "text",
                   key_col: str = "doc_id",
                   divisor: int = 8, min_words: int = 1) -> "DataFrame":
    """(key, h) — one row per content-defined chunk, ``h`` = md5 of the
    chunk's words. The shared unit of :func:`cdc_shared_stats` (t17's
    duplicate-span signal) and the d-family near-dup pair generator
    (``operators.dedup.cdc_near_dup_pairs``): a boundary falls AFTER any
    word whose md5-prefix integer ``% divisor == 0`` (never after the
    last word), so boundaries depend on LOCAL content only and an
    insertion re-chunks just its own chunk. Chunking runs ARRAY-SIDE in
    one projection; the explode emits hashes only — chunk text never
    shuffles.

    ``min_words`` drops chunks shorter than that many words BEFORE
    hashing: 1-2-word chunks are stopword-grade boilerplate whose
    buckets grow with the corpus (df in the hundreds by sf0.1) without
    carrying near-dup signal — the pair generator filters them the way
    TF-IDF drops stopwords. ``min_words=1`` (default) keeps every chunk
    (t17's duplicate-span stats count them all)."""
    wexpr = f"split(trim({text_col}), '\\\\s+')"
    bexpr = (f"filter(sequence(1, size(_w)), i -> "
             f"i < size(_w) AND "
             f"cast(conv(substring(md5(element_at(_w, i)), 1, 8), "
             f"16, 10) AS BIGINT) % {divisor} = 0)")
    start = "(CASE WHEN j = 1 THEN 1 ELSE element_at(_b, j - 1) + 1 END)"
    end = ("(CASE WHEN j = size(_b) + 1 THEN size(_w) "
           "ELSE element_at(_b, j) END)")
    seq = "sequence(1, size(_b) + 1)"
    if min_words > 1:
        seq = f"filter({seq}, j -> {end} - {start} + 1 >= {min_words})"
    chunk_expr = f"""
transform({seq}, j ->
  md5(concat_ws(' ', slice(_w, {start}, {end} - {start} + 1))))"""
    return (df.select(F.col(key_col), F.expr(wexpr).alias("_w"))
            .withColumn("_b", F.expr(bexpr))
            .select(F.col(key_col),
                    F.explode(F.expr(chunk_expr)).alias("h")))


def cdc_chunk_rows_sql(table_sql: str = "documents",
                       text_col: str = "text",
                       key_col: str = "doc_id",
                       divisor: int = 8, min_words: int = 1) -> str:
    """DuckDB twin of :func:`cdc_chunk_rows` — same boundary rule via the
    bit-portable md5-prefix integer, END-INCLUSIVE DuckDB list slices,
    same pre-hash ``min_words`` chunk filter."""
    start = "(CASE WHEN j = 1 THEN 1 ELSE bpos[j - 1] + 1 END)"
    end = ("(CASE WHEN j = len(bpos) + 1 THEN len(words) "
           "ELSE bpos[j] END)")
    seq = "range(1, len(bpos) + 2)"
    if min_words > 1:
        seq = (f"list_filter({seq}, j -> "
               f"{end} - {start} + 1 >= {min_words})")
    return f"""
WITH __w AS (
  SELECT {key_col},
         string_split_regex(trim({text_col}), '\\s+') AS words
  FROM {table_sql}
), __b AS (
  SELECT {key_col}, words,
         list_filter(range(1, len(words) + 1), i ->
           i < len(words)
           AND ('0x' || substr(md5(words[i]), 1, 8))::BIGINT
               % {divisor} = 0) AS bpos
  FROM __w
)
SELECT {key_col},
       unnest(list_transform({seq}, j ->
         md5(array_to_string(words[{start}:{end}], ' ')))) AS h
FROM __b"""


def cdc_shared_stats(df: "DataFrame", text_col: str = "text",
                     key_col: str = "doc_id",
                     divisor: int = 8) -> "DataFrame":
    """Content-defined-chunking duplicate-span signal: the
    shift-resistant complement of :func:`shared_chunk_stats`. Fixed-size
    chunking (t16) misses a shared span the moment one document inserts
    a single word before it — every later chunk boundary moves. Here a
    chunk boundary falls AFTER any word whose hash ``% divisor == 0``
    (expected chunk length = ``divisor`` words), so boundaries are a
    function of LOCAL content only: an insertion re-chunks its own
    chunk and leaves the rest of the document's chunks — and their
    hashes — identical. This is the rolling-hash/CDC idea storage
    dedup uses (LBFS/rsync family), at word granularity so the SQL twin
    is exact.

    Word hash: the first 8 hex digits of md5, read as an integer —
    bit-identical in Spark (``conv(substr(md5(w),1,8),16,10)``) and
    DuckDB (``('0x' || ...)::BIGINT``), the d03 md5-nibble trick.

    Scale shape: chunking is entirely ARRAY-SIDE inside one projection
    (split -> boundary filter -> slice -> md5 per chunk) — the explode
    emits (key, hash) rows only, so chunk text never shuffles; the
    cross-doc count is one hash-aggregate, the join back hash-keyed —
    linear in total chunk count, same posture as t16.

    Returns (key, n_chunks, shared_chunks, shared_frac): chunks whose
    hash also occurs in ANOTHER document, per document.

    Caching contract: persists a (key, hash) frame released only by
    :func:`klepto_spark.operators.dedup.release_caches` — see
    :func:`shared_chunk_stats` (ADVICE r14)."""
    chunks = cdc_chunk_rows(df, text_col, key_col, divisor)
    # same persist rationale as shared_chunk_stats: the CDC split +
    # per-chunk md5 projection is the operator's dominant per-task work
    # and feeds two consumers (optimization r14).
    from klepto_spark.operators.dedup import _PINNED_CACHES
    chunks = chunks.persist()
    _PINNED_CACHES.append(chunks)
    cross = (chunks.groupBy("h")
             .agg(F.countDistinct(key_col).alias("nd")))
    return (chunks.join(cross, "h")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                 .cast("long").alias("shared_chunks"))
            .select(F.col(key_col), F.col("n_chunks"),
                    F.col("shared_chunks"),
                    (F.col("shared_chunks") / F.col("n_chunks"))
                    .alias("shared_frac")))


def cdc_shared_stats_sql(table_sql: str = "documents",
                         text_col: str = "text",
                         key_col: str = "doc_id",
                         divisor: int = 8) -> str:
    """DuckDB oracle for :func:`cdc_shared_stats` — same boundary rule
    (word-md5-prefix integer % divisor, never after the last word),
    END-INCLUSIVE DuckDB list slices, exact-integer fraction."""
    inner = cdc_chunk_rows_sql(table_sql, text_col, key_col, divisor)
    return f"""
WITH __c AS (SELECT * FROM ({inner})),
__g AS (SELECT h, count(DISTINCT {key_col}) AS nd FROM __c GROUP BY h)
SELECT __c.{key_col},
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN __g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_chunks,
       sum(CASE WHEN __g.nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
         AS shared_frac
FROM __c JOIN __g USING (h)
GROUP BY __c.{key_col}"""


def _window_grams(df: "DataFrame", text_col: str, key_col: str,
                  k: int) -> tuple["DataFrame", "DataFrame"]:
    """``(docs, grams)``: ``docs`` carries (key, ws, n_words) — the
    whitespace-token array — and ``grams`` one (key, pos, h) row per
    sliding k-word window (1-based positions; md5 of the space-joined
    words; the window covers words [pos, pos+k-1]).

    Windows materialise array-side in ONE projection (sequence +
    transform + slice); each occurrence leaves the scan as
    (key, pos, md5) — the window text never shuffles."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = df.select(F.col(key_col), words.alias("ws"),
                     F.size(words).cast("long").alias("n_words"))
    grams = (docs.filter(F.col("n_words") >= k)
             .select(key_col, F.explode(F.transform(
                 F.sequence(F.lit(1), (F.col("n_words") - (k - 1)).cast("int")),
                 lambda i: F.struct(
                     i.alias("pos"),
                     F.md5(F.concat_ws(
                         " ", F.slice(F.col("ws"), i, F.lit(k))))
                     .alias("h")))).alias("g"))
             .select(key_col, F.col("g.pos").alias("pos"),
                     F.col("g.h").alias("h")))
    return docs, grams


def _dup_occurrences(df: "DataFrame", text_col: str, key_col: str,
                     k: int, min_count: int
                     ) -> tuple["DataFrame", "DataFrame"]:
    """Shared core of t18/t19: ``(docs, occ)`` where ``occ`` is one
    (key, pos) row per sliding k-word window whose corpus-wide occurrence
    count reaches ``min_count``. The duplicate filter is a
    hash-aggregate on the md5 plus a semi-join back.

    ``grams`` PERSISTS (optimization r14, guide §5 caching rule): it
    feeds both the duplicate-hash aggregate and the semi-join probe
    side, and the probe side of a broadcast semi-join sits behind no
    exchange — without the pin the whole text-split + per-window-md5
    projection executed twice (6 parquet scans in the t18 initial
    plan). The cached rows are (key, pos, md5) — ~48 B each, never the
    text — MEMORY_AND_DISK and registered for ``release_caches``, the
    same d15/c05 pattern; recomputing them costs strictly more than
    spilling them at any scale because the md5-per-window projection
    dominates the row size. Long-lived callers must release_caches()
    between uses (ADVICE r14 — the registry is process-global and
    unbounded by design; bench.py frees it per query)."""
    from klepto_spark.operators.dedup import _PINNED_CACHES
    docs, grams = _window_grams(df, text_col, key_col, k)
    grams = grams.persist()
    _PINNED_CACHES.append(grams)
    dup_h = (grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
             .filter(F.col("cnt") >= min_count).select("h"))
    occ = grams.join(dup_h, "h", "left_semi").select(key_col, "pos")
    return docs, occ


def _span_coverage(docs: "DataFrame", occ: "DataFrame",
                   key_col: str, k: int) -> "DataFrame":
    """(key, n_words, dup_words, dup_frac) from duplicated-window
    occurrence positions: the exact integer interval union (equal-length
    intervals sorted by start have monotone ends, so the union collapses
    to sum(min(k, pos - prev)) with the first interval contributing k),
    left-joined back so uncovered docs report zero."""
    win = Window.partitionBy(key_col).orderBy("pos")
    covered = (occ.withColumn("prev", F.lag("pos").over(win))
               .groupBy(key_col)
               .agg(F.sum(F.when(F.col("prev").isNull(), F.lit(k))
                          .otherwise(F.least(F.lit(k),
                                             F.col("pos") - F.col("prev"))))
                    .cast("long").alias("dup_words")))
    return (docs.select(key_col, "n_words")
            .join(covered, key_col, "left")
            .select(F.col(key_col), F.col("n_words"),
                    F.coalesce(F.col("dup_words"), F.lit(0)).cast("long")
                    .alias("dup_words"),
                    (F.coalesce(F.col("dup_words"), F.lit(0))
                     / F.col("n_words")).alias("dup_frac")))


def _dup_occ_ctes(table_sql: str, text_col: str, key_col: str,
                  k: int, min_count: int) -> str:
    """The shared __w/__n/__g/__dup CTE prefix of the t18/t19 oracles —
    same whitespace split, same md5-of-space-joined-words window identity
    (END-INCLUSIVE DuckDB list slices)."""
    return f"""__w AS (SELECT {key_col},
                    string_split_regex(trim({text_col}), '\\s+') AS ws
             FROM {table_sql}),
__n AS (SELECT {key_col}, CAST(len(ws) AS BIGINT) AS n_words FROM __w),
__g AS (SELECT {key_col}, pos,
               md5(array_to_string(ws[pos:pos+{k - 1}], ' ')) AS h
        FROM (SELECT {key_col}, ws,
                     unnest(generate_series(1, len(ws) - {k - 1})) AS pos
              FROM __w WHERE len(ws) >= {k})),
__dup AS (SELECT h FROM __g GROUP BY h HAVING count(*) >= {min_count})"""


def dup_span_stats(df: "DataFrame", text_col: str = "text",
                   key_col: str = "doc_id",
                   k: int = 8, min_count: int = 2) -> "DataFrame":
    """Duplicated-span coverage (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"), word-granular: the fraction of
    each document's words covered by ANY length-``k`` word window that
    occurs at least ``min_count`` times in the corpus (across documents
    OR repeated inside one). This is the sliding-window complement of
    t16/t17's chunk signals — a duplicated span is caught at EVERY
    alignment, so a verbatim quote buried mid-paragraph can't dodge a
    chunk grid or a CDC boundary. High ``dup_frac`` docs are the
    train-set memorisation risk the paper's ExactSubstr rule targets.

    Exactness: covered-word counting is an interval union done with
    integer arithmetic only. Duplicated windows at positions p cover
    words [p, p+k-1]; since all intervals have equal length, sorting by
    start makes ends monotone, so the union collapses to
    sum(min(k, pos - prev_pos)) with the first interval contributing k —
    no floats until the final fraction (exact IEEE division of two
    small integers, replayed bit-identically by the DuckDB oracle).

    Scale shape: windows are materialised array-side in ONE projection
    (sequence + transform + slice — no per-row Python); each occurrence
    leaves the scan as (key, pos, md5) — 48-byte rows, the window TEXT
    never shuffles. The duplicate filter is a hash-aggregate on the md5
    plus a semi-join back; the interval union is one window pass keyed
    on the document. Everything is linear in total word count."""
    docs, occ = _dup_occurrences(df, text_col, key_col, k, min_count)
    return _span_coverage(docs, occ, key_col, k)


def dup_span_stats_sql(table_sql: str = "documents",
                       text_col: str = "text", key_col: str = "doc_id",
                       k: int = 8, min_count: int = 2) -> str:
    """DuckDB oracle for :func:`dup_span_stats` — same whitespace split,
    same md5-of-space-joined-words window identity (END-INCLUSIVE DuckDB
    list slices), the same integer interval-union identity, exact
    division last. The WHERE-before-window evaluation order in __o
    mirrors Spark's filter-then-lag."""
    return f"""
WITH {_dup_occ_ctes(table_sql, text_col, key_col, k, min_count)},
__o AS (SELECT {key_col}, pos,
               lag(pos) OVER (PARTITION BY {key_col} ORDER BY pos) AS prev
        FROM __g WHERE h IN (SELECT h FROM __dup)),
__c AS (SELECT {key_col},
               SUM(CASE WHEN prev IS NULL THEN {k}
                        ELSE LEAST({k}, pos - prev) END) AS dup_words
        FROM __o GROUP BY {key_col})
SELECT __n.{key_col}, __n.n_words,
       CAST(coalesce(__c.dup_words, 0) AS BIGINT) AS dup_words,
       coalesce(__c.dup_words, 0) * 1.0 / __n.n_words AS dup_frac
FROM __n LEFT JOIN __c USING ({key_col})"""


def dup_span_strip(df: "DataFrame", text_col: str = "text",
                   key_col: str = "doc_id",
                   k: int = 8, min_count: int = 2) -> "DataFrame":
    """The ACTION to t18's signal: rewrite every document with its
    duplicated spans REMOVED — Lee et al. 2021's ExactSubstr rule cuts
    the repeated substrings rather than dropping whole documents, so
    the unique remainder of a partially-copied page still trains. A
    word is removed iff it is covered by any length-``k`` window
    occurring >= ``min_count`` times in the corpus (exactly t18's
    coverage set, so ``n_removed`` here equals t18's ``dup_words`` by
    construction). Output: (key, clean_text, n_words, n_removed);
    fully-duplicated documents survive as empty strings for the caller
    to drop or keep.

    Scale shape: duplicated positions fold to per-document ISLANDS
    (maximal covered intervals — one window pass + one aggregate, rows
    = islands, not positions), which collect to a per-doc array that
    joins back to the token array; the rewrite is then a single
    array-side filter-by-index — the document text crosses the join's
    exchange ONCE, and no per-word rows ever carry text. Word order is
    preserved; inter-word whitespace normalises to single spaces (the
    tokenisation is whitespace-splitting, identical in the oracle)."""
    docs, occ = _dup_occurrences(df, text_col, key_col, k, min_count)
    win = Window.partitionBy(key_col).orderBy("pos")
    run = win.rowsBetween(Window.unboundedPreceding, 0)
    islands = (occ.withColumn("prev", F.lag("pos").over(win))
               .withColumn("new_isl",
                           F.when(F.col("prev").isNull()
                                  | (F.col("pos") - F.col("prev") >= k),
                                  1).otherwise(0))
               .withColumn("isl", F.sum("new_isl").over(run))
               .groupBy(key_col, "isl")
               .agg(F.min("pos").alias("s"),
                    (F.max("pos") + (k - 1)).alias("e"))
               .groupBy(key_col)
               .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
                    .alias("spans")))
    empty = F.array().cast("array<struct<s:int,e:int>>")
    kept = F.filter(
        "ws", lambda w, i: ~F.exists(
            "spans", lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])))
    return (docs.join(islands, key_col, "left")
            .withColumn("spans", F.coalesce(F.col("spans"), empty))
            .withColumn("kept", kept)
            .select(F.col(key_col),
                    F.concat_ws(" ", F.col("kept")).alias("clean_text"),
                    F.col("n_words"),
                    (F.col("n_words") - F.size("kept")).cast("long")
                    .alias("n_removed")))


def dup_span_strip_sql(table_sql: str = "documents",
                       text_col: str = "text", key_col: str = "doc_id",
                       k: int = 8, min_count: int = 2) -> str:
    """DuckDB oracle for :func:`dup_span_strip` — shares t18's CTE prefix
    (same windows, same duplicate set), folds positions to islands with
    the identical gap rule (pos - prev >= k), excludes covered words via
    NOT EXISTS, and reassembles with an ORDER BY pos string_agg. Empty
    survivors coalesce to '' exactly like Spark's concat_ws over an
    empty array."""
    return f"""
WITH {_dup_occ_ctes(table_sql, text_col, key_col, k, min_count)},
__o AS (SELECT {key_col}, pos,
               lag(pos) OVER (PARTITION BY {key_col} ORDER BY pos) AS prev
        FROM __g WHERE h IN (SELECT h FROM __dup)),
__il AS (SELECT {key_col}, pos,
                SUM(CASE WHEN prev IS NULL OR pos - prev >= {k}
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY {key_col} ORDER BY pos) AS isl
         FROM __o),
__i AS (SELECT {key_col}, isl, min(pos) AS s, max(pos) + {k - 1} AS e
        FROM __il GROUP BY {key_col}, isl),
__t AS (SELECT {key_col}, unnest(ws) AS w,
               unnest(generate_series(1, len(ws))) AS pos
        FROM __w),
__keep AS (SELECT t.{key_col}, t.pos, t.w
           FROM __t t
           WHERE NOT EXISTS (SELECT 1 FROM __i i
                             WHERE i.{key_col} = t.{key_col}
                               AND t.pos BETWEEN i.s AND i.e)),
__r AS (SELECT {key_col},
               string_agg(w, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM __keep GROUP BY {key_col})
SELECT __n.{key_col},
       coalesce(__r.clean_text, '') AS clean_text,
       __n.n_words,
       CAST(__n.n_words - coalesce(__r.n_kept, 0) AS BIGINT) AS n_removed
FROM __n LEFT JOIN __r USING ({key_col})"""


def _span_scheme(k: int) -> dict:
    return {"k": k}


def _window_counts(grams: "DataFrame") -> "DataFrame":
    """(h, cnt) window-hash count rows — the span index's row unit."""
    return grams.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def span_write_index(df: "DataFrame", path: str, text_col: str = "text",
                     key_col: str = "doc_id", k: int = 8,
                     mode: str = "overwrite") -> None:
    """Persist (h, cnt) window-hash COUNT rows — the at-rest index that
    makes duplicated-span coverage (t18) INCREMENTAL, the FIFTH member
    of the at-rest probe matrix (exact / minhash / semantic / cdc /
    span): scoring a new batch later never re-windows the existing
    corpus. Counts (not per-occurrence rows) are what coverage needs —
    the index is corpus-DISTINCT-window sized, and folding an append is
    a sum-on-read over appended count rows, so commits are pure parquet
    appends with no rewrite."""
    from klepto_spark.operators.dedup import write_index
    _, grams = _window_grams(df, text_col, key_col, k)
    write_index(_window_counts(grams), path, "span", _span_scheme(k), mode)


def span_append(spark, path, new_docs: "DataFrame",
                text_col: str = "text", key_col: str = "doc_id",
                k: int = 8, min_count: int = 2,
                commit: bool = True) -> "DataFrame":
    """Duplicated-span coverage for a NEW batch against an indexed
    corpus, and (optionally) fold the batch's window counts into the
    index. Returns t18's (key, n_words, dup_words, dup_frac) for the
    BATCH documents — identical by construction to running
    :func:`dup_span_stats` over old ∪ new and keeping the batch rows,
    because a window's total occurrence count is exactly
    (batch occurrences) + (indexed count).

    Scale shape — the ``minhash_append`` posture applied to window
    hashes: the batch is windowed once, its per-hash counts BROADCAST as
    the probe, and the index is scanned exactly once through that
    semi-join (no index shuffle, no corpus re-window); only touched
    hash groups aggregate. The returned frame keeps probing the
    PRE-append snapshot even after the commit below (the parquet
    relation pins its file list at read time)."""
    from klepto_spark.operators.dedup import commit_index, read_index
    docs, grams = _window_grams(new_docs, text_col, key_col, k)
    batch_cnt = _window_counts(grams)
    idx = read_index(spark, path, ("h", "cnt"), "span", _span_scheme(k))
    probe = batch_cnt.select("h")
    idx_cnt = (idx.join(F.broadcast(probe), "h", "left_semi")
               .groupBy("h").agg(F.sum("cnt").alias("ic")))
    dup_h = (batch_cnt.join(idx_cnt, "h", "left")
             .filter(F.col("cnt") + F.coalesce(F.col("ic"), F.lit(0))
                     >= min_count)
             .select("h"))
    occ = grams.join(dup_h, "h", "left_semi").select(key_col, "pos")
    out = _span_coverage(docs, occ, key_col, k)
    if commit:
        commit_index(spark, path, batch_cnt, "span_append")
    return out
