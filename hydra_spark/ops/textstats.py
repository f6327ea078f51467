"""Text analysis ops — language ID, quality scoring, tokens, fingerprints.

All JVM-side built-ins (regexp_count / length / md5) — zero Python in
these paths, so they run in whole-stage codegen at any scale, and every
one has an exact ANSI-SQL analog for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hydra_spark.ops import spread

# tiny deterministic stopword banks per language (n-gram-heuristic
# stand-in; a real lang-id model would be a broadcast lookup table)
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
}


def _count_words(col, words: list[str]):
    """One alternation regexp pass per language (word tokens are
    space-separated, so alternation match count == summed per-word
    counts — the form the SQL oracle uses)."""
    alt = "|".join(words)
    return F.size(F.regexp_extract_all(col, F.lit(rf"\b({alt})\b"), 0)).cast("long")


def _lang_exprs(text_col: str) -> dict:
    """THE language-guess expressions (shared by lang_id and
    corpus_gate — one definition, two call sites)."""
    t = F.lower(F.col(text_col))
    en = _count_words(t, LANG_STOPWORDS["en"])
    de = _count_words(t, LANG_STOPWORDS["de"])
    fr = _count_words(t, LANG_STOPWORDS["fr"])
    guess = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return {"lang_guess": guess, "en_hits": en}


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language guess: argmax over per-language hit counts,
    'und' (undetermined) when all zero. Ties break by language order
    en > de > fr (deterministic)."""
    df = spread(df, id_col)
    e = _lang_exprs(text_col)
    return df.select(
        F.col(id_col), e["lang_guess"].alias("lang_guess"), e["en_hits"].alias("en_hits")
    )


def _quality_exprs(text_col: str) -> dict:
    """THE quality-score expressions (shared by quality_score and
    corpus_gate)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(F.split(F.trim(t), r"\s+"))
    n_punct = F.regexp_count(t, F.lit(r"[.!?,;:]"))
    n_stop = _count_words(F.lower(t), LANG_STOPWORDS["en"])
    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tokens,
        "n_punct": n_punct,
        "stop_ratio": F.round(n_stop / n_tokens, 4),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "quality": F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
            + F.least(n_stop / F.greatest(n_tokens, F.lit(1)) * 5.0, F.lit(1.0)) * 0.5,
            4,
        ),
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score."""
    df = spread(df, id_col)
    e = _quality_exprs(text_col)
    return df.select(
        F.col(id_col),
        *[e[k].alias(k) for k in (
            "n_chars_m", "n_tokens", "n_punct", "stop_ratio", "punct_ratio", "quality"
        )],
    )


def token_counts(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Whitespace token totals per group (corpus size accounting)."""
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.groupBy(group_col).agg(
        F.sum(n_tokens).alias("total_tokens"),
        F.count("*").alias("n_docs"),
        F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
    )


# BPE-style pre-tokenizer pattern (the GPT-2 one, minus its trailing
# lookahead so RE2 engines — the DuckDB oracle — accept it verbatim):
# contraction suffixes, space-prefixed letter runs, digit runs, symbol
# runs. Whitespace between tokens is absorbed by the leading " ?"; pure
# whitespace runs yield no tokens. ASCII classes on purpose: unicode
# \p{L} semantics differ by engine — and even ASCII \s differs (Java
# includes \x0B vertical tab, RE2 does not), so the whitespace class is
# spelled out explicitly to pin Java, RE2 and Python to the same set.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\x0B\f\rA-Za-z0-9]+"


def bpe_token_counts(
    df: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Subword-ish token totals per group: counts matches of the
    GPT-2-style pre-tokenizer regex (the step before BPE merges — the
    unit that actually bounds a tokenizer's output length, unlike
    whitespace words). One regexp_count per row, whole-stage codegen —
    the same per-group accounting shape as token_counts."""
    n_tokens = F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE))
    return df.groupBy(group_col).agg(
        F.sum(n_tokens).alias("total_bpe_tokens"),
        F.count("*").alias("n_docs"),
        F.round(F.avg(n_tokens), 4).alias("avg_bpe_tokens"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: md5 over normalized text
    (lower + trim). Identical hex in Spark and ANSI SQL."""
    norm = F.lower(F.trim(F.col(text_col)))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Local document fingerprints by winnowing (the MOSS scheme):
    hash every character k-gram, keep the min hash of each sliding
    window of `window` consecutive k-gram positions, distinct per doc.
    Guarantee: any substring match of length >= k + window - 1 between
    two documents shares at least one fingerprint — so a fingerprint
    equi-join finds local overlaps (quotes, boilerplate, plagiarism)
    that whole-doc digests and bag-of-shingles measures miss.

    All JVM-side codegen (sequence/transform/array_min over substr+md5;
    md5 because Spark and the DuckDB oracle compute identical hex for
    it). Cost is O(len) hashes per doc — the standard winnowing price,
    embarrassingly parallel, no shuffle until the downstream join.
    Output: (doc_id, fp) exploded rows, join-ready."""
    expr = (
        f"array_sort(array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k} + 1 - {window} + 1, 1)),"
        f"j -> array_min(transform(sequence(j, j + {window} - 1),"
        f"i -> md5(substr({text_col}, i, {k})))))))"
    )
    return spread(df, id_col).select(
        F.col(id_col), F.explode(F.expr(expr)).alias("fp")
    )


def binary_metadata(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Opaque-binary plumbing demo: byte length + prefix digest of the
    payload treated as binary (the multimodal column pattern)."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col),
        F.length(payload).alias("n_bytes"),
        F.md5(F.substring(F.col(text_col), 1, 16)).alias("prefix_md5"),
    )


# PII patterns: deliberately restricted to the Java-regex ∩ RE2 dialect
# subset (no backrefs, no lookaround) so the engine (Spark/Java) and the
# DuckDB oracle (RE2) compile the SAME automaton — the bpe_token_counts
# tri-dialect lesson applied at design time.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{1,6}"
PII_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing — the redaction pass every LLM training-data
    pipeline runs before tokenization: emails, E.164-ish phone numbers,
    and IPv4 literals replaced by typed placeholders, with per-document
    match counts for audit sampling. Redaction order is fixed
    (email -> phone -> ip) and each count is taken on the PREVIOUS
    stage's output, so the patterns CAN overlap (a phone-shaped email
    local-part, an IPv4-shaped domain) and the counts still reconcile
    exactly with the placeholders in the redacted text — n_phones is
    the number of <PHONE> markers emitted, never a phantom match inside
    an already-redacted email. All JVM regexp codegen — zero Python, no
    shuffle; scales as a pure map over any corpus. Output: input
    columns + n_emails/n_phones/n_ips + ``<text_col>_redacted``.
    """
    c = F.col(text_col)
    r1 = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    r2 = F.regexp_replace(r1, PII_PHONE_RE, "<PHONE>")
    r3 = F.regexp_replace(r2, PII_IP_RE, "<IP>")
    return spread(df, id_col).select(
        "*",
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(r1, F.lit(PII_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(r2, F.lit(PII_IP_RE), 0)).cast("long").alias("n_ips"),
        r3.alias(f"{text_col}_redacted"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition filter (Rae et al. 2021
    §A1.1 'repetitious documents'): fraction of duplicate words and of
    duplicate word 2-/3-grams inside each document, plus the resulting
    keep/drop flag. Documents that loop, boilerplate, or keyword-stuff
    show high duplicate-n-gram fractions and are dropped before
    training. Thresholds adapted from the paper's char-fraction rules
    to count-fractions (this corpus has uniform-length words).

    Scale shape: a pure per-row projection — split / zip / distinct all
    inside whole-stage codegen, no shuffle, no UDF, O(len) per doc. At
    100 TB this runs at scan speed and its output feeds the quality
    gate exactly like ``quality_score``."""
    df = spread(df, id_col)
    e = _repetition_exprs(text_col)
    return df.select(
        F.col(id_col),
        *[e[k].alias(k) for k in (
            "n_words", "dup_word_frac", "dup_2gram_frac", "dup_3gram_frac", "flagged"
        )],
    )


def _repetition_exprs(text_col: str) -> dict:
    """THE repetition-filter expressions (shared by repetition_stats
    and corpus_gate)."""
    # NULL text behaves like empty (size(split(NULL)) is -1 in Spark
    # but NULL in the DuckDB oracle — coalesce on BOTH sides instead)
    w = F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    n = F.size(w)

    def grams(k: int):
        # zip_with over k shifted slices — measured ~50x faster than
        # transform(sequence(...), i -> concat_ws(element_at...)) at
        # sf0.1 (random array indexing through a lambda defeats the
        # evaluator; zip_with streams the arrays). The when() guard
        # short-circuits short docs before slice sees a non-positive
        # length.
        ln = n - F.lit(k - 1)
        shifted = [F.slice(w, j + 1, ln) for j in range(k)]
        g = shifted[0]
        for j in range(1, k):
            g = F.zip_with(g, shifted[j], lambda a, b: F.concat_ws(" ", a, b))
        return F.when(n >= k, g).otherwise(F.array().cast("array<string>"))

    def dup_frac(arr):
        return F.when(
            F.size(arr) > 0,
            F.round(1 - F.size(F.array_distinct(arr)) / F.size(arr), 4),
        ).otherwise(F.lit(0.0))

    d2, d3 = dup_frac(grams(2)), dup_frac(grams(3))
    return {
        "n_words": n.cast("long"),  # oracle len() is BIGINT
        "dup_word_frac": dup_frac(w),
        "dup_2gram_frac": d2,
        "dup_3gram_frac": d3,
        "flagged": (d2 > 0.2) | (d3 > 0.18),
    }


def corpus_gate(
    docs: DataFrame,
    bench: DataFrame,
    min_quality: float = 0.45,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The assembled pre-training corpus filter — the C4/RefinedWeb-style
    keep/drop gate every pipeline runs before tokenization, composed
    from this module's certified filters: language ID (must be 'en'),
    Gopher repetition flag, benchmark decontamination, and the quality
    score floor. Emits keep plus the FIRST failing gate as ``reason``
    (gates check in pipeline order: lang -> repetition ->
    contamination -> quality; '' when kept) — the audit trail a corpus
    report needs, not just a boolean.

    Scale shape: the three row-local filters (lang, quality,
    repetition) evaluate as ONE projection over ONE scan — their
    expressions are the same shared definitions the certified
    standalone rows select from (_lang_exprs/_quality_exprs/
    _repetition_exprs), so no drift and no extra scans or shuffles.
    Only decontamination genuinely needs a join (cross-corpus gram
    equi-join), and it joins back on the id. Docs too short to carry
    an 8-gram have no contamination surface and gate as
    not-contaminated."""
    from hydra_spark.ops.dedup import benchmark_contamination

    local = spread(docs, id_col).select(
        F.col(id_col),
        _lang_exprs(text_col)["lang_guess"].alias("lang_guess"),
        _quality_exprs(text_col)["quality"].alias("quality"),
        _repetition_exprs(text_col)["flagged"].alias("repetitious"),
    )
    cont = benchmark_contamination(docs, bench, text_col=text_col, id_col=id_col)
    j = local.join(
        cont.select(id_col, "contaminated"), id_col, "left"
    ).withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    keep = (
        (F.col("lang_guess") == "en")
        & ~F.col("repetitious")
        & ~F.col("contaminated")
        & (F.col("quality") >= min_quality)
    )
    reason = (
        F.when(F.col("lang_guess") != "en", "lang")
        .when(F.col("repetitious"), "repetition")
        .when(F.col("contaminated"), "contamination")
        .when(F.col("quality") < min_quality, "quality")
        .otherwise("")
    )
    return j.select(
        id_col, "lang_guess", "quality", "repetitious", "contaminated",
        keep.alias("keep"), reason.alias("reason"),
    )


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k terms by TF-IDF — the keyword-extraction /
    corpus-characterization pass a training-data pipeline runs before
    topic filtering. Whitespace tokenization (the corpus contract shared
    with the shingle ops); tf = raw in-document count, idf =
    ln((N+1)/(df+1)) + 1 (the smoothed scikit-learn formulation — never
    divides by zero, never goes negative), score rounded to 6 dp so the
    engine and the SQL oracle hash identically. Ties break by term
    ascending, so top-k is fully deterministic.

    Scale shape: two hash aggregations (doc×term counts, then term
    document-frequencies) and one window top-k partitioned by doc —
    every stage has map-side partials, nothing driver-side, no UDF. The
    df side is |vocab|-sized; it rides a broadcast back onto the
    doc×term counts at 100 TB (AQE chooses; vocab ≪ corpus)."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # document frequency per term, then the smoothed idf
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = df.select(F.countDistinct(id_col).alias("_n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n_docs") + 1) / (F.col("df") + 1)) + 1), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "tfidf")
    )
