"""Category K — text analysis operators (SURVEY §2.K).

All token work is explode + two-phase aggregation — JVM-side, no
Python. tf-idf is two aggregations + a window rank; MLlib
HashingTF/IDF equivalence is covered in unit tests (hash-bucket
outputs aren't oracle-friendly, SURVEY §2.K).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import fan_out_small_scan, load_table

#: Marker-stopword profiles for the n-gram/stopword language-ID
#: heuristic. Real top-frequency function words per language; the
#: classifier is honest even though this synthetic corpus's text is
#: English-vocabulary for every `lang` label (measured), so the
#: confusion matrix it emits mostly maps * -> 'en'.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "los", "es"],
    "fr": ["le", "la", "et", "les", "est"],
    "zh": ["的", "了", "是", "在", "我"],
}


@query(
    "text_lang_stats",
    oracle="""
    WITH stats AS (
        SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
        FROM documents
        GROUP BY lang
    ),
    tf AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    ranked AS (
        SELECT
            lang,
            term AS top_term,
            count(*) AS top_term_count,
            row_number() OVER (
                PARTITION BY lang ORDER BY count(*) DESC, term
            ) AS rn
        FROM tf
        GROUP BY lang, term
    )
    SELECT s.lang AS lang, n_docs, avg_chars, top_term, top_term_count
    FROM stats s JOIN ranked r ON s.lang = r.lang AND r.rn = 1
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc count, avg n_chars, and most frequent term."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    tf = (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("top_term_count"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("top_term_count"), F.asc("term")
    )
    top = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("term").alias("top_term"), "top_term_count")
    )
    return stats.join(top, "lang")


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf_agg AS (
        SELECT lang, term, count(*) AS tf FROM tf GROUP BY lang, term
    ),
    df AS (
        SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ) GROUP BY term
    ),
    scored AS (
        SELECT
            lang,
            term,
            tf,
            df,
            tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
        FROM tf_agg JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, df, round(score, 6) AS tfidf, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY score DESC, term
        ) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf: top-3 terms per language by tf·ln(N/df).

    tf is per-language term frequency, df is global document
    frequency, N the corpus size (broadcast as a 1-row frame — no
    collect). Ranking uses the unrounded score with a term
    tie-break; the declared output rounds for hash stability.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select(
            "lang",
            "term",
            "tf",
            "df",
            F.round(F.col("score"), 6).alias("tfidf"),
            "rank",
        )
    )


def _profile_values_sql() -> str:
    """The LANG_PROFILES as a DuckDB VALUES relation (cand, words)."""
    rows = ", ".join(
        "('%s', [%s])" % (lang, ", ".join("'%s'" % w for w in words))
        for lang, words in sorted(LANG_PROFILES.items())
    )
    return f"(VALUES {rows}) AS profiles(cand, words)"


@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, cand,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains(words, t))) AS hits
        FROM documents CROSS JOIN {_profile_values_sql()}
    ),
    best AS (
        SELECT doc_id, lang,
               CASE WHEN hits = 0 THEN 'und' ELSE cand END AS predicted_lang
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY hits DESC, cand
            ) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT lang, predicted_lang, count(*) AS n_docs
    FROM best GROUP BY lang, predicted_lang
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker vote, confusion matrix.

    Every doc is scored against each language's marker-stopword
    profile (hits = tokens found in the profile); the argmax (ties
    broken alphabetically, zero hits -> 'und') is the prediction.
    Output is the (true lang, predicted lang) confusion matrix. The
    profile table is 5 rows — broadcast; scoring is one pass over
    the corpus, shuffle only on the tiny (doc, cand) rank + final
    count, so the shape holds at 100 TB.
    """
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    profiles = spark.createDataFrame(
        [(lang, words) for lang, words in sorted(LANG_PROFILES.items())],
        "cand string, words array<string>",
    )
    scored = (
        d.select("doc_id", "lang", F.split(F.col("text"), " ").alias("toks"))
        .crossJoin(F.broadcast(profiles))
        .select(
            "doc_id",
            "lang",
            "cand",
            F.size(
                F.filter("toks", lambda t: F.array_contains(F.col("words"), t))
            ).alias("hits"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "lang",
            F.when(F.col("hits") == 0, "und")
            .otherwise(F.col("cand"))
            .alias("predicted_lang"),
        )
    )
    return best.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "text_quality_score",
    oracle="""
    WITH m AS (
        SELECT
            doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            list_aggregate(list_transform(string_split(text, ' '),
                                          t -> length(t)), 'sum') AS tok_chars,
            length(text) AS n_chars,
            length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
            length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
            len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS n_stop
        FROM documents
    )
    SELECT
        doc_id,
        n_tokens,
        round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS mean_token_len,
        round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        round(CAST(n_digits AS DOUBLE) / n_chars, 6) AS digit_ratio,
        round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        round(
            0.4 * least(1.0, n_tokens / 50.0)
            + 0.3 * least(1.0, 4 * CAST(n_stop AS DOUBLE) / n_tokens)
            + 0.2 * (1 - CAST(n_digits AS DOUBLE) / n_chars)
            + 0.1 * (1 - CAST(n_punct AS DOUBLE) / n_chars),
            6
        ) AS quality_score
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals + composite score (Gopher-rule style).

    Length (token count, saturating at 50), stopword density
    (saturating at 25%), digit and punctuation ratios — the standard
    cheap pre-filters an LLM-data pipeline applies before expensive
    model scoring. Pure narrow-map over each doc: no shuffle at all,
    embarrassingly parallel at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    n_chars = F.length("text")
    n_digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is"))
    )
    dbl = lambda c: c.cast("double")  # noqa: E731
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(dbl(tok_chars) / n_tokens, 6).alias("mean_token_len"),
        F.round(dbl(n_stop) / n_tokens, 6).alias("stopword_ratio"),
        F.round(dbl(n_digits) / n_chars, 6).alias("digit_ratio"),
        F.round(dbl(n_punct) / n_chars, 6).alias("punct_ratio"),
        F.round(
            0.4 * F.least(F.lit(1.0), n_tokens / F.lit(50.0))
            + 0.3 * F.least(F.lit(1.0), 4 * dbl(n_stop) / n_tokens)
            + 0.2 * (1 - dbl(n_digits) / n_chars)
            + 0.1 * (1 - dbl(n_punct) / n_chars),
            6,
        ).alias("quality_score"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT
        lang,
        count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        CAST(sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
             AS BIGINT) AS re_tokens,
        round(avg(len(string_split(text, ' '))), 4) AS avg_ws_tokens,
        round(avg(CAST(length(text) AS DOUBLE)
                  / len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))), 4
        ) AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split + BPE-style pre-tokenizer regex.

    ``\\w+|[^\\w\\s]`` is the classic GPT-2-ish pre-tokenization
    (word runs and isolated punctuation); chars-per-token is the
    budget metric a training pipeline tracks. Narrow map + one
    small per-lang aggregation.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    re_toks = F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).alias("ws_tokens"),
        F.sum(re_toks).alias("re_tokens"),
        F.round(F.avg(ws), 4).alias("avg_ws_tokens"),
        F.round(F.avg(F.length("text").cast("double") / re_toks), 4).alias(
            "chars_per_token"
        ),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH grams AS (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 7)) AS i
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, i, md5(substr(text, i, 8)) AS h FROM grams
    ),
    winnowed AS (
        SELECT doc_id,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
               ) AS fp
        FROM hashed
    )
    SELECT doc_id,
           count(DISTINCT fp) AS n_fingerprints,
           min(fp) AS min_fingerprint
    FROM winnowed GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 8-gram rolling hash + winnowing (w=4).

    Schleimer/Wilkerson/Aiken winnowing: hash every 8-char gram
    (MD5 as the rolling hash — deterministic and oracle-identical),
    keep the minimum in each window of 4 consecutive gram hashes,
    then the distinct kept hashes are the doc's fingerprint set.
    Guarantees any shared substring ≥ 11 chars yields a shared
    fingerprint. All work is partitioned by doc_id — the window
    never crosses docs, so the op scales linearly.
    """
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN length(text) >= 8 THEN"
                " transform(sequence(1, length(text) - 7),"
                "           i -> substring(text, i, 8))"
                " ELSE CAST(array() AS array<string>) END"
            )
        ).alias("pos", "gram"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    winnowed = grams.select("doc_id", F.min(F.md5("gram")).over(w).alias("fp"))
    return winnowed.groupBy("doc_id").agg(
        F.count_distinct(F.col("fp")).alias("n_fingerprints"),
        F.min("fp").alias("min_fingerprint"),
    )


@query(
    "text_clean_stopwords",
    oracle="""
    WITH cleaned AS (
        SELECT lang,
               len(string_split(text, ' ')) AS toks_before,
               len(string_split(
                   trim(regexp_replace(
                       regexp_replace(text, '\\b(a|the)\\b', '', 'g'),
                       ' +', ' ', 'g')),
                   ' ')) AS toks_after
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(toks_before) AS BIGINT) AS total_toks_before,
           CAST(sum(toks_after) AS BIGINT) AS total_toks_after,
           round(1.0 - sum(toks_after) / CAST(sum(toks_before) AS DOUBLE), 6)
               AS removed_ratio
    FROM cleaned
    GROUP BY lang
    """,
)
def text_clean_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning: strip stopword tokens ('a', 'the' — both
    in-vocabulary for this corpus) with word-boundary regexes,
    re-collapse whitespace, and report per-lang token reduction.

    Pure narrow map (JVM ``regexp_replace``, no UDF) + one small
    aggregate — the cheapest possible shape for a full-corpus rewrite
    at 100 TB. Regex stays in the RE2 ∩ Java-regex common dialect
    (`\\b`, alternation, `+`); DuckDB needs the explicit 'g' flag
    where Spark's regexp_replace is always-global (SURVEY §5.3).
    """
    d = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"\b(a|the)\b", ""), " +", " "
        )
    )
    t = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("toks_before"),
        F.size(F.split(cleaned, " ")).alias("toks_after"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks_before").alias("total_toks_before"),
        F.sum("toks_after").alias("total_toks_after"),
        F.round(
            1.0 - F.sum("toks_after") / F.sum("toks_before").cast("double"), 6
        ).alias("removed_ratio"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, substr(text, i, 1) AS ch
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, length(text))) AS i)
    ),
    freq AS (
        SELECT doc_id, ch, count(*) AS n FROM chars GROUP BY doc_id, ch
    ),
    ent AS (
        SELECT f.doc_id,
               round(-sum((n / CAST(d.n_chars AS DOUBLE))
                          * ln(n / CAST(d.n_chars AS DOUBLE))), 6) AS h
        FROM freq f JOIN documents d ON f.doc_id = d.doc_id
        GROUP BY f.doc_id
    )
    SELECT d.lang,
           count(*) AS n_docs,
           round(avg(h), 6) AS avg_entropy,
           round(min(h), 6) AS min_entropy,
           round(max(h), 6) AS max_entropy
    FROM ent JOIN documents d ON ent.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per doc, summarized per lang —
    the classic cheap gibberish/boilerplate signal (low entropy =
    repetitive padding, high = noise) used alongside
    ``text_quality_score``'s ratio rules.

    Both engines build char rows the same way (index sequence +
    substr — Spark's ``split(text, '')`` and DuckDB's
    ``string_split`` disagree on empty-string edges, so neither is
    used), aggregate (doc, char) counts, and fold -Σ p·ln p. Per-doc
    entropy is rounded to 6dp BEFORE the per-lang avg so float
    associativity can't drift the comparison. Shape: one explode
    (narrow), two keyed aggregations — n_chars ≡ length(text) is a
    measured fixture invariant (SURVEY §1.2), reused as the
    denominator without a third pass.
    """
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    chars = (
        d
        # Empty texts emit zero char rows on both engines (DuckDB's
        # generate_series(1, 0) is empty; Spark's sequence(1, 0)
        # would DESCEND and emit [1, 0] — phantom rows).
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
            F.col("text"),
        )
        .select("doc_id", F.expr("substring(text, i, 1)").alias("ch"))
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    p = F.col("n") / F.col("n_chars").cast("double")
    ent = (
        freq.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("h"))
    )
    return (
        ent.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 6).alias("avg_entropy"),
            F.round(F.min("h"), 6).alias("min_entropy"),
            F.round(F.max("h"), 6).alias("max_entropy"),
        )
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, lang, array_to_string(t[i:i+2], ' ') AS g
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0),
    scored AS (
        SELECT tr.doc_id, tr.lang,
               count(*) AS n_grams,
               count(b.g) AS n_hits
        FROM (SELECT * FROM grams WHERE doc_id % 37 <> 0) tr
        LEFT JOIN bench b USING (g)
        GROUP BY tr.doc_id, tr.lang
    )
    SELECT lang,
           count(*) AS n_train_docs,
           count(*) FILTER (CAST(n_hits AS DOUBLE) / n_grams > 0.05)
               AS n_flagged,
           round(avg(CAST(n_hits AS DOUBLE) / n_grams), 4)
               AS avg_contamination,
           CAST(sum(n_hits) AS BIGINT) AS total_hits
    FROM scored GROUP BY lang
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: token-trigram overlap vs a held-out set.

    The GPT-3/PaLM-style eval-contamination check: the "benchmark"
    is the deterministic doc_id % 37 slice; a training doc is
    flagged when > 5% of its distinct trigrams appear verbatim in
    any benchmark doc. Scale shape: the benchmark gram set is tiny
    relative to the corpus by construction (eval sets don't grow
    with training data), so the membership probe is a broadcast
    left join against the full corpus scan — no all-pairs work, one
    doc_id-keyed aggregation. Trigrams (not 13-grams) because the
    fixture vocabulary is ~40 terms (SURVEY §2 `explode_wordcount`);
    the operator is n-agnostic.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", "lang", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    bench = (
        grams.where(F.col("doc_id") % 37 == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        grams.where(F.col("doc_id") % 37 != 0)
        .join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hits"),
        )
    )
    contam = F.col("n_hits").cast("double") / F.col("n_grams")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.count_if(contam > 0.05).alias("n_flagged"),
        F.round(F.avg(contam), 4).alias("avg_contamination"),
        F.sum("n_hits").alias("total_hits"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    per_tok AS (
        SELECT doc_id, lang, tok, count(*) AS n
        FROM toks GROUP BY doc_id, lang, tok
    ),
    per_doc AS (
        SELECT doc_id, lang,
               sum(n) AS tot, count(*) AS uniq, max(n) AS top_n
        FROM per_tok GROUP BY doc_id, lang
    ),
    scored AS (
        SELECT lang,
               round(CAST(tot - uniq AS DOUBLE) / tot, 6) AS dup_frac,
               round(CAST(top_n AS DOUBLE) / tot, 6) AS top_frac
        FROM per_doc
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (dup_frac > 0.55) AS n_flagged,
           round(avg(dup_frac), 6) AS avg_dup_frac,
           round(avg(top_frac), 6) AS avg_top_frac,
           round(max(dup_frac), 6) AS max_dup_frac
    FROM scored GROUP BY lang
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-token + top-token mass.

    Two cheap repetition signals per doc — the fraction of token
    occurrences that are repeats of an earlier token
    ((tot-uniq)/tot) and the mass of the single most frequent token
    (top_n/tot) — summarized per lang with a > 0.55 flag rate.
    Shape: one explode + two doc_id-keyed aggregations; the per-doc
    group fits an executor at any corpus size (docs are bounded, the
    corpus is not), and per-doc ratios are rounded to 6dp before the
    per-lang average so cross-engine float association can't drift
    the hash (same discipline as text_char_entropy).
    """
    d = load_table(spark, sf_dir, "documents")
    per_tok = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = per_tok.groupBy("doc_id", "lang").agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("uniq"),
        F.max("n").alias("top_n"),
    )
    dup = F.round((F.col("tot") - F.col("uniq")).cast("double") / F.col("tot"), 6)
    top = F.round(F.col("top_n").cast("double") / F.col("tot"), 6)
    scored = per_doc.select("lang", dup.alias("dup_frac"), top.alias("top_frac"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("dup_frac") > 0.55).alias("n_flagged"),
        F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
        F.round(F.avg("top_frac"), 6).alias("avg_top_frac"),
        F.round(F.max("dup_frac"), 6).alias("max_dup_frac"),
    )


#: BM25 query terms (fixed retrieval probe over the fixture vocab) and
#: the standard Robertson parameters.
BM25_TERMS = ("spark", "hash", "merge")
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_term_sql(term: str) -> str:
    """One term's BM25 contribution (the oracle mirror of the Spark
    expression below — same fixed evaluation order)."""
    tf = f"tf_{term}"
    df = f"df_{term}"
    return (
        f"ln(1 + (n_docs - {df} + 0.5) / ({df} + 0.5))"
        f" * ({tf} * (1.2 + 1))"
        f" / ({tf} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id,
               sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS tf_spark,
               sum(CASE WHEN tok = 'hash'  THEN 1 ELSE 0 END) AS tf_hash,
               sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS tf_merge
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) t
        WHERE tok IN ('spark', 'hash', 'merge')
        GROUP BY doc_id
    ),
    df AS (
        SELECT count(CASE WHEN tf_spark > 0 THEN 1 END) AS df_spark,
               count(CASE WHEN tf_hash  > 0 THEN 1 END) AS df_hash,
               count(CASE WHEN tf_merge > 0 THEN 1 END) AS df_merge
        FROM tf
    )
    SELECT doc_id,
           CAST(dl AS BIGINT) AS dl,
           round({_bm25_term_sql('spark')}
                 + {_bm25_term_sql('hash')}
                 + {_bm25_term_sql('merge')}, 6) AS bm25
    FROM tf
    JOIN dl USING (doc_id)
    CROSS JOIN stats CROSS JOIN df
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for a fixed 3-term query —
    the lexical-retrieval primitive of a training-data pipeline
    (quality-by-query probes, targeted corpus slicing, retrieval
    baselines for embedding QA).

    Scale shape: the exploded token stream filters to the QUERY
    TERMS before any shuffle (a 3-value isin on a narrow projection
    — the shuffled tf aggregate carries only matching tokens, a
    ~|terms|/|vocab| reduction); corpus stats (N, avgdl) and the
    3-value df frame are 1-row broadcasts; the per-doc score is one
    codegen expression with FIXED term order (spark + hash + merge,
    identical on both engines — no float-sum reordering); top-10
    under (rounded score DESC, doc_id) plans as
    TakeOrderedAndProject. Determinism: tf/df/dl are exact integers,
    avgdl is one exact division, so every score input is an
    identical double cross-engine (SCALING.md §MONEY grid rule).
    """
    d = load_table(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok").isin(*BM25_TERMS))
    tf = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in BM25_TERMS
        ]
    )
    df = tf.agg(
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in BM25_TERMS
        ]
    )

    def term_score(t: str):
        tf_c = F.col(f"tf_{t}").cast("double")
        df_c = F.col(f"df_{t}").cast("double")
        idf = F.log(
            1 + (F.col("n_docs") - df_c + 0.5) / (df_c + 0.5)
        )
        norm = tf_c + BM25_K1 * (
            1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * (tf_c * (BM25_K1 + 1)) / norm

    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(df))
        .select(
            "doc_id",
            "dl",
            F.round(
                term_score("spark") + term_score("hash") + term_score("merge"),
                6,
            ).alias("bm25"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(10)


@query(
    "text_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t) - 3),
                                     j -> array_to_string(t[j:j+4], ' ')))
                   AS shingle
        FROM toks WHERE len(t) >= 5
    ),
    df AS (
        SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
    ),
    occ AS (SELECT * FROM sh JOIN df USING (shingle)),
    per_doc AS (
        SELECT doc_id, source,
               count(*) AS total_occ,
               sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS boiler_occ
        FROM occ GROUP BY doc_id, source
    ),
    per_src AS (
        SELECT source,
               count(*) AS n_docs,
               round(avg(CAST(boiler_occ AS DOUBLE) / total_occ), 6)
                   AS avg_boiler_share,
               CAST(sum(CASE WHEN boiler_occ * 2 >= total_occ
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_templated
        FROM per_doc GROUP BY source
    ),
    src_sh AS (
        SELECT source,
               count(DISTINCT CASE WHEN df >= 3 THEN shingle END)
                   AS n_boiler_shingles
        FROM occ GROUP BY source
    )
    SELECT source, n_docs, avg_boiler_share, n_templated, n_boiler_shingles
    FROM per_src JOIN src_sh USING (source)
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span census (C4's line-dedup rule lifted to token
    5-grams): a shingle appearing in >= 3 DISTINCT documents is
    boilerplate — template headers, license blurbs, navigation chrome
    — and per source we report mean per-doc boilerplate share (share
    of the doc's shingle occurrences that are boilerplate), how many
    docs are majority-boilerplate (templated), and how many distinct
    boilerplate shingles the source contributes.

    This is the LINEAR complement to the pairwise near-dup family:
    repeated-span detection needs no candidate pairs at all — one
    keyed aggregation over (shingle -> distinct-doc count) and a join
    back, exactly the tf-idf document-frequency shape
    (`text_tfidf_topterms`). At 100 TB both shuffles key on the
    shingle/doc hash with map-side partial aggregation; no window
    ever sees more than one doc's spans and no operator is
    quadratic. Docs shorter than 5 tokens carry no shingle and are
    excluded from the census on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 5)
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 4),"
                "          j -> concat_ws(' ', slice(t, j, 5)))"
            )
        ).alias("shingle"),
    )
    # NO barrier here, by measurement (VERDICT r11 #5 proposed one;
    # r12 A/B at sf0.1 rejected it: barriered df_counts = 12 jobs /
    # ~3.1 s vs this plan's 10 jobs / ~1.9 s,
    # tools/receipts/boilerplate_barrier_ab_r12.txt). The double-join
    # the advice targeted was already removed in r11 (src_sh
    # re-derived from the distinct pair set below), and Catalyst gives
    # the remaining "twice-computed" aggregate a ReusedExchange on sh's
    # shuffle-by-shingle, so the second aggregation only re-pays the
    # partial/final agg over already-shuffled blocks — cheaper than
    # materializing + re-reading the ~23M-row shingle-string frame a
    # barrier would force.
    df_counts = sh.groupBy("shingle").agg(
        F.count_distinct("doc_id").alias("df")
    )
    # The df side is DATA-PROPORTIONAL (one row per distinct shingle),
    # but Catalyst's static size estimate for an aggregate is small
    # enough to pick a broadcast join — and a statically-chosen
    # broadcast is not demotable by AQE, so the plan OOMs the driver
    # once the shingle vocabulary outgrows the heap (caught by the
    # sf10 family audit: ~23M distinct shingles). Hint the join-back
    # to sort-merge: both sides shuffle on the shingle key it is
    # already aggregated by.
    occ = sh.join(df_counts.hint("merge"), "shingle")
    per_doc = occ.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("total_occ"),
        F.sum(F.when(F.col("df") >= 3, 1).otherwise(0)).alias("boiler_occ"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.avg(F.col("boiler_occ") / F.col("total_occ")), 6
        ).alias("avg_boiler_share"),
        F.sum(
            F.when(F.col("boiler_occ") * 2 >= F.col("total_occ"), 1).otherwise(
                0
            )
        ).alias("n_templated"),
    )
    # n_boiler_shingles needs only SET membership, not occurrence
    # counts, so it never touches the occurrence-level join above
    # (ADVICE r10: deriving it from occ executed the fact-sized
    # shingle<->df merge join twice — once per aggregation branch).
    # Distinct (source, shingle) pairs join the FILTERED df side
    # (boilerplate shingles only, df >= 3) — both frames orders of
    # magnitude under the occurrence stream.
    src_sh = (
        sh.select("source", "shingle")
        .distinct()
        .join(
            df_counts.where(F.col("df") >= 3)
            .select("shingle")
            .hint("merge"),
            "shingle",
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_boiler_shingles"))
    )
    # LEFT join + coalesce: a source whose every shingle is unique has
    # no row in src_sh here, but the oracle's occ-based form emits it
    # with a 0 count — same row set either way.
    return per_src.join(src_sh, "source", "left").select(
        "source",
        "n_docs",
        "avg_boiler_share",
        "n_templated",
        F.coalesce(F.col("n_boiler_shingles"), F.lit(0)).alias(
            "n_boiler_shingles"
        ),
    )
