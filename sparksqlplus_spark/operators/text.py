"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

Engine extensions beyond the reference surface. Everything is
expression-level Spark SQL (regexp/translate/length/md5 — whole-stage
codegen, no Python in the hot path) and deterministic, so DuckDB
oracles can reproduce values exactly.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksqlplus_spark.expr_memo import expr_cache

# token pattern: words or single non-space punctuation (BPE-ish split)
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "del", "para"],
}


def token_count(text: Column) -> Column:
    """Number of word/punct tokens (regex-based, BPE-ish granularity)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit("")))


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Quality-signal columns: lengths, token counts, char-class ratios.

    The classic pre-training quality filters (length, punctuation
    density, alpha ratio, mean word length) as one narrow projection.
    """
    return df.select(*_text_stats_cols(text_col, id_col))


@expr_cache
def _text_stats_cols(text_col: str, id_col: str) -> tuple[Column, ...]:
    """The :func:`text_stats` projection list (memoized per column-name
    pair — rebuilding these ~30 py4j-backed expressions was 0.12 s per
    call on the bench's construction-inclusive timing, round 18)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    alpha = _class_count(t, string.ascii_letters)
    digit = _class_count(t, string.digits)
    space = _class_count(t, " \t\n")
    punct = n_chars - alpha - digit - space
    ws_tokens = whitespace_token_count(t).cast("double")
    return (
        F.col(id_col),
        n_chars.alias("n_chars"),
        token_count(t).cast("long").alias("n_tokens"),
        ws_tokens.cast("long").alias("n_words"),
        # an empty text has no ratios: NULL, where ANSI division raises
        F.try_divide(alpha, n_chars).alias("alpha_ratio"),
        F.try_divide(digit, n_chars).alias("digit_ratio"),
        F.try_divide(punct, n_chars).alias("punct_ratio"),
        ((n_chars - space) / F.greatest(ws_tokens, F.lit(1.0))).alias("avg_word_len"),
    )


def _class_count(t: Column, chars: str) -> Column:
    """How many characters of ``t`` are in ``chars``: the length lost
    when ``translate`` deletes them. One pass over the string with no
    regex engine; the same count as the length of
    ``regexp_replace(t, "[^<chars>]", "")``."""
    return (F.length(t) - F.length(F.translate(t, chars, ""))).cast("double")


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Scalar quality score in [0,1]: penalize too-short docs, high
    punctuation density, low alpha ratio. Deterministic arithmetic."""
    stats = text_stats(df, text_col, id_col)
    length_term = F.least(F.col("n_words") / 50.0, F.lit(1.0))
    alpha_term = F.col("alpha_ratio")
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 5.0)
    return stats.select(
        F.col(id_col),
        ((length_term + alpha_term + punct_term) / 3.0).alias("quality"),
    )


def stopword_hits(text: Column, words: list[str]) -> Column:
    """How many tokens of the text are in the given stopword list."""
    toks = F.split(F.lower(text), r"\s+")
    wordarr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordarr, t)))


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits
    (deterministic tie-break by language code; 'und' when no hits)."""
    t = F.col(text_col)
    hit_cols = {lang: stopword_hits(t, ws) for lang, ws in sorted(STOPWORDS.items())}
    scored = df.select(
        F.col(id_col), *[c.alias(f"hits_{lang}") for lang, c in hit_cols.items()]
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in sorted(STOPWORDS)])
    pred = F.lit("und")
    # reverse order so earlier codes win ties via later overwrite
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Split each document into overlapping whitespace-token windows —
    the RAG/pre-training chunking step. Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens) with stride = chunk_tokens −
    overlap_tokens; every document yields ≥ 1 chunk, and the chunk
    count is ceil(max(n_tokens − overlap, 1) / stride), so the final
    window always reaches the document tail.

    Pure expression-level (split → sequence → posexplode → slice):
    whole-stage codegen, no Python, no shuffle — a map-only operator at
    any scale. Rows: (doc_id, chunk_id, n_chunk_tokens, chunk_fp) with
    chunk_fp = 16-hex md5 prefix of the space-joined window (content-
    exact without shipping the text twice).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    t = F.col(text_col)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil(
            F.greatest(n - F.lit(overlap_tokens), F.lit(1)).cast("double")
            / F.lit(float(stride))
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(F.sequence(F.lit(1), n_chunks)).alias("chunk_id", "__x"),
    )
    window = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    chunk_text = F.array_join(window, " ")
    return base.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.substring(F.md5(chunk_text.cast("binary")), 1, 16).alias("chunk_fp"),
    )


# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backrefs — so oracles reproduce results
# exactly. Order matters: emails first (they contain dots/digits), then
# IPv4, then phone-like digit runs over the already-redacted text.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII scrubbing (emails / IPv4s / phone-like digit runs) — the
    redaction pass a training corpus runs before release. Pure
    regexp expressions (whole-stage codegen, map-only). Returns
    (id, n_email, n_ip, n_phone, redacted_fp) where counts are
    measured per pattern on the text AS EACH PATTERN SEES IT (emails
    on the original, IPs after email redaction, phones after both —
    so an IP inside an email is not double-counted) and redacted_fp
    is the 16-hex md5 prefix of the fully redacted text."""
    t = F.col(text_col)
    cols = [F.col(id_col)]
    for name, pat, repl in PII_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, repl)
    cols.append(F.substring(F.md5(t.cast("binary")), 1, 16).alias("redacted_fp"))
    return df.select(*cols)


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``top_word_frac``: occurrences of the most frequent word / total
      words — catches "buy buy buy buy" spam.
    - ``top_bigram_frac``: same over word bigrams.
    - ``dup_trigram_frac``: 1 − distinct/total word trigrams — catches
      looping generation and copy-paste padding.

    Scale design: the trigram fraction is a pure array expression
    (map-only — ``array_distinct`` over the per-doc trigram array, no
    shuffle). Word/bigram modes need a per-(doc, gram) count, done as
    two cascaded aggregations — both partial-aggregate (map-side
    combine) friendly, keyed by (doc, gram) then doc, so the shuffle
    volume is bounded by the token stream, never a cross product.
    Docs with < 2 words get 0.0 fractions via the left joins.
    """
    from sparksqlplus_spark.operators.dedup import tokens_col

    toks = df.select(F.col(id_col), tokens_col(text_col).alias("__toks"))
    nw = F.size(F.col("__toks"))
    # guards matter: F.sequence(1, n) DESCENDS when n < 1, so short
    # docs must short-circuit to an empty gram array.
    bigrams = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(1), nw - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    trigrams = F.when(
        nw >= 3,
        F.transform(
            F.sequence(F.lit(1), nw - 2),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = toks.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        F.when(
            F.size(trigrams) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(trigrams)).cast("double") / F.size(trigrams),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )
    wtop = (
        toks.select(F.col(id_col), F.explode("__toks").alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg((F.max("__c").cast("double") / F.sum("__c")).alias("top_word_frac"))
    )
    btop = (
        toks.select(F.col(id_col), F.explode(bigrams).alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg((F.max("__c").cast("double") / F.sum("__c")).alias("top_bigram_frac"))
    )
    return (
        base.join(wtop, id_col, "left")
        .join(btop, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            F.coalesce("top_word_frac", F.lit(0.0)).alias("top_word_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            "dup_trigram_frac",
        )
    )


def boilerplate_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-corpus boilerplate detection: a word n-gram that appears
    in ≥ ``min_docs`` DISTINCT documents is boilerplate (headers,
    footers, licence blurbs, nav text); each doc reports what fraction
    of its distinct shingles are corpus-boilerplate. The per-doc
    fraction feeds the same filter stage as the Gopher rules.

    Scale design: per-doc shingles are deduped map-side
    (``array_distinct`` inside :func:`~sparksqlplus_spark.operators.
    dedup.shingle_frame`) and hashed to 52-bit ints BEFORE the shuffle
    (8-byte keys instead of n-gram strings; a hash collision merges
    two shingles' doc-frequencies — deterministic, reproduced exactly
    by the oracle, and vanishingly rare at 2^52). The document-
    frequency count is then a plain ``COUNT(*)`` — one shuffle keyed
    by shingle hash; the frequency join lands on the same key
    (co-partitioned with the aggregate), then one final doc-keyed
    aggregation. The exploded frame feeds both the count and the join,
    so it is persisted for the operator's lifetime (released before
    return would kill the join; Spark drops it with the plan). No
    all-pairs product, no driver state.
    """
    from sparksqlplus_spark.operators.dedup import h52, shingle_frame

    sh = (
        shingle_frame(df, text_col, id_col, shingle_n)
        .select(F.col(id_col), F.explode("__sh").alias("__sg"))
        .select(F.col(id_col), h52(F.col("__sg")).alias("__s"))
        .persist()
    )
    freq = sh.groupBy("__s").agg(F.count("*").alias("__df"))
    return (
        sh.join(freq, "__s")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("__df") >= min_docs, F.lit(1))).alias(
                "n_boilerplate"
            ),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_boilerplate",
            (F.col("n_boilerplate").cast("double") / F.col("n_shingles")).alias(
                "boilerplate_frac"
            ),
        )
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalized-content fingerprint: md5 prefix of
    lower(collapse-whitespace(strip-punct(text))). 16 hex chars."""
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return df.select(
        F.col(id_col),
        F.substring(F.md5(norm.cast("binary")), 1, 16).alias("fingerprint"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf, with the
    RATIONAL idf surrogate N/df instead of ln(N/df): monotone in the
    same order for a fixed tf, and — unlike ln, whose last-bit rounding
    differs across libm implementations — bit-exact across engines
    (IEEE division is correctly rounded), so the DuckDB oracle matches
    the score column exactly. Ties break on the term text.

    Plan shape at scale: explode -> two hash aggregates (map-side
    partial combine) -> broadcast of the one-row corpus count ->
    per-doc window top-k. The df (document-frequency) aggregate is the
    only term-keyed shuffle; skewed stop-word terms are bounded by the
    partial aggregation.
    """
    from pyspark.sql.window import Window

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(total), how="cross")
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("__n") / F.col("df"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(F.col(id_col), "term", "tf", "df", "score", "rnk")
    )


def unigram_freq_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram-LM commonness score: mean corpus frequency
    of the document's tokens. Low avg_cf = rare/garbled vocabulary
    (OCR noise, codes, non-language), high = stop-wordy common text —
    the cheap corpus-relative signal a unigram-logprob filter gives,
    WITHOUT ln(): tf sums are exact integers (order-independent, so
    the DuckDB oracle hash-matches), and the single final division is
    correctly rounded IEEE. Tokenization: lower, split \\s+, drop
    empties — same as tfidf_top_terms.

    Plan shape at scale: explode -> term-keyed hash aggregate (map-side
    partial combine bounds stop-word skew) -> explode again joined on
    term -> doc-keyed aggregate. Two shuffles (term, doc), both
    pre-combined; no driver state, no UDFs."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    cf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    return (
        terms.join(cf, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").alias("sum_cf"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("sum_cf"),
            F.round(
                F.col("sum_cf").cast("double") / F.col("n_tokens"), 6
            ).alias("avg_cf"),
        )
    )
