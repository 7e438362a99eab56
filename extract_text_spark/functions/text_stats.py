"""Text-analysis operators: token counting, quality scoring, language-ID,
document fingerprinting. All pure Catalyst column expressions (whole-stage
codegen; no Python), each with an exact SQL oracle.

Determinism notes: ratios are single double divisions of integers
(bit-identical across engines); nothing sums doubles across rows.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "from", "it", "this", "that",
]


def token_count_col(text: str | Column = "text") -> Column:
    return F.size(F.split(text, " "))


def uniq_token_count_col(text: str | Column = "text") -> Column:
    return F.size(F.array_distinct(F.split(text, " ")))


def stopword_ratio_col(text: str | Column = "text") -> Column:
    toks = F.split(text, " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return n_stop.cast("double") / F.size(toks)


def quality_score_col(text: str | Column = "text",
                      as_millionths: bool = False) -> Column:
    """Composite quality score in [0,1]: length term + lexical diversity +
    stopword prose-likeness (a Gopher/C4-style heuristic mix).

    ``as_millionths`` returns ``floor(score*1e6 + 0.5)`` as BIGINT — the
    engine-portable form (round() half-way behaviour differs between
    engines exactly at .5 boundaries; floor of identical doubles cannot).
    """
    toks = F.split(text, " ")
    n = F.size(toks)
    length_term = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / n
    stop = stopword_ratio_col(text)
    score = (length_term * 0.4 + diversity * 0.3
             + F.least(stop * F.lit(3.0), F.lit(1.0)) * 0.3)
    if as_millionths:
        return F.floor(score * 1000000.0 + 0.5).cast("long")
    return F.round(score, 6)


def lang_id_col(text: str | Column = "text",
                threshold: float = 0.12) -> Column:
    """n-gram-free heuristic language ID: English stopword share of tokens
    plus an ASCII-share gate — 'en' / 'other' / 'non_latin'."""
    toks = F.split(text, " ")
    stop = stopword_ratio_col(text)
    ascii_share = (
        F.length(F.regexp_replace(text, "[^\\x00-\\x7F]", "")).cast("double")
        / F.length(text)
    )
    return (
        F.when(ascii_share < 0.5, F.lit("non_latin"))
        .when(stop >= threshold, F.lit("en"))
        .otherwise(F.lit("other"))
    )


# Distinctive-stopword profiles for multi-language ID. Ambiguous words
# shared across the Romance languages (de/la/que/un/...) are intentionally
# duplicated — the ARGMAX over hit ratios disambiguates, not uniqueness.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich",
           "zu"],
    "fr": ["le", "la", "les", "et", "est", "pour", "que", "dans", "une",
           "vous"],
    "es": ["el", "los", "que", "y", "en", "por", "con", "una", "para", "es"],
    "it": ["il", "di", "che", "per", "con", "non", "sono", "della", "una",
           "gli"],
    "pt": ["o", "os", "de", "que", "um", "para", "com", "uma", "mais",
           "não"],
}


def lang_id_multi_col(text: str | Column = "text",
                      threshold_milli: int = 60_000) -> Column:
    """Multi-language ID, still pure columns (whole-stage codegen):

    1. script gates — Cyrillic-dominant -> 'ru', CJK-dominant -> 'zh',
       any non-Latin-dominant else -> 'non_latin';
    2. else argmax of per-language stopword hit ratios (integer-millionth
       ratios inside an array_max over (ratio, lang) structs — the
       lexicographic struct max is identical in Spark and DuckDB, ties
       resolve to the later language name);
    3. below ``threshold_milli`` -> 'other'.
    """
    toks = F.split(text, " ")
    n = F.size(toks)
    non_ascii = (
        (F.length(text)
         - F.length(F.regexp_replace(text, "[^\\x00-\\x7F]", "")))
        .cast("double") / F.length(text)
    )
    cyr = (F.length(text)
           - F.length(F.regexp_replace(text, "[\\x{0400}-\\x{04FF}]", "")))
    cjk = (F.length(text)
           - F.length(F.regexp_replace(text, "[\\x{4E00}-\\x{9FFF}]", "")))
    scored = F.array(*[
        F.struct(
            F.floor(
                F.size(F.filter(toks, lambda t: t.isin(*words)))
                .cast("double") / n * 1000000.0 + 0.5
            ).cast("long").alias("ratio_milli"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    ])
    best = F.array_max(scored)
    return (
        F.when(non_ascii >= 0.5,
               F.when(cyr.cast("double") / F.length(text) >= 0.3, F.lit("ru"))
               .when(cjk.cast("double") / F.length(text) >= 0.3, F.lit("zh"))
               .otherwise(F.lit("non_latin")))
        .when(best.getField("ratio_milli") >= threshold_milli,
              best.getField("lang"))
        .otherwise(F.lit("other"))
    )


_BPE_TOKEN_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_count_col(text: str | Column = "text") -> Column:
    """BPE-ish token count: a GPT-2-style pre-tokenizer regex (contraction
    tails, space-prefixed letter runs, digit runs, punctuation runs) —
    counts matches, no vocabulary needed. Same RE2-compatible pattern runs
    in DuckDB's regexp_extract_all for the oracle."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_TOKEN_RE), F.lit(0)))


def fingerprint_col(text: str | Column = "text") -> Column:
    """Whole-document fingerprint (md5)."""
    return F.md5(text)


def rolling_fingerprint_col(text: str | Column = "text",
                            window: int = 8) -> Column:
    """Winnowing-style document fingerprint: the minimum md5 over the
    document's word ``window``-grams — robust to local edits (published
    winnowing/MOSS idea, simplified to a single min-sample)."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (window - 1), F.lit(1)))
    grams = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(
            " ", *[F.element_at(toks, F.least(i + j, F.size(toks)))
                   for j in range(window)]
        )),
    )
    return F.array_min(grams)


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality gates (Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------

def _milli(num: Column, den: Column) -> Column:
    """The repo's integer-millionth ratio convention: ONE double division,
    floor(x*1e6 + 0.5) — bit-identical in Spark and DuckDB."""
    return F.floor(num.cast("double") / den.cast("double")
                   * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def gopher_word_cols(text: str | Column = "text") -> dict[str, Column]:
    """Word-level Gopher gates as integer/millionth columns (pure
    codegen): word count, mean word length, symbol-to-word ratio
    (#/ellipsis), fraction of words containing an alphabetic char.
    Ratios follow the repo convention: one double division, floored to
    integer millionths."""
    words = F.split(text, " ")
    n_words = F.size(words)
    n_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    n_sym = (F.size(F.split(text, "#", -1)) - 1
             + F.size(F.split(text, r"\.\.\.", -1)) - 1)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))


    return {
        "n_words": n_words.cast("long"),
        "mean_word_len_milli": _milli(n_chars, n_words),
        "symbol_word_ratio_milli": _milli(n_sym, n_words),
        "alpha_word_frac_milli": _milli(n_alpha, n_words),
    }


def gopher_dup_line_cols(lines: str | Column = "lines") -> dict[str, Column]:
    """Duplicate-line gates over an array-of-lines column, computed
    in-row with higher-order functions (no explode/shuffle): fraction of
    lines that are duplicates of an earlier line, and the fraction of
    characters those duplicate lines carry. Catalyst does not CSE inside
    lambdas, so callers should materialize ``lines`` as a real column."""
    col = F.col(lines) if isinstance(lines, str) else lines
    n_lines = F.size(col)
    # a line is a duplicate iff its first occurrence sits at a lower
    # index — i.e. everything except the first occurrence of each value.
    # array_distinct keeps exactly the first occurrences (hash-based,
    # O(L)), so duplicate count/chars are total minus distinct — linear
    # in-row, where the naive per-element array_position scan is O(L^2)
    # (ruinous at book length: 16k chunk-lines = 2.6e8 string compares
    # in one task).
    firsts = F.array_distinct(col)
    n_dup = n_lines - F.size(firsts)
    n_chars = F.aggregate(col, F.lit(0).cast("long"),
                          lambda a, line: a + F.length(line))
    n_dup_chars = n_chars - F.aggregate(
        firsts, F.lit(0).cast("long"), lambda a, line: a + F.length(line))


    return {
        "n_lines": n_lines.cast("long"),
        "dup_line_frac_milli": _milli(n_dup, n_lines),
        "dup_line_char_frac_milli": _milli(n_dup_chars, n_chars),
    }


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction; patterns valid in Java regex AND RE2 so
# the DuckDB oracle is exact — no lookbehind, no backreferences)
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"


def pii_scrub_cols(text: str | Column = "text") -> dict[str, Column]:
    """Counts + redacted text for emails, IPv4s and rigid international
    phone numbers. Email runs first (its domain would otherwise feed the
    IP pattern); replacement tokens contain no digits or '@' so passes
    cannot cascade."""
    col = F.col(text) if isinstance(text, str) else text
    n_emails = F.regexp_count(col, F.lit(PII_EMAIL_RE))
    after_email = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IPV4_RE))
    after_ip = F.regexp_replace(after_email, PII_IPV4_RE, "<IP>")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE_RE))
    scrubbed = F.regexp_replace(after_ip, PII_PHONE_RE, "<PHONE>")
    return {
        "n_emails": n_emails.cast("long"),
        "n_ips": n_ips.cast("long"),
        "n_phones": n_phones.cast("long"),
        "scrubbed": scrubbed,
    }


def gopher_top_ngram_cols(text: str | Column = "text",
                          n: int = 2) -> dict[str, Column]:
    """Gopher's "fraction of characters in the most frequent n-gram"
    (Rae et al. 2021, table A1), in-row and O(L log L): sort the gram
    array once, then a single ``aggregate`` pass counts equal runs,
    keeping the max by (count, chars) — the same lexicographic order the
    DuckDB oracle computes, so ties on count resolve to the larger char
    mass deterministically. Every prefix of a run is dominated by the
    full run, so updating the best at each element is exact. A 50k-word
    doc costs ~50k comparisons in-row (the old per-gram filter was
    O(L^2): 2.5e9 lambda evaluations for the same doc, one unsplittable
    multi-minute task at book length)."""
    col = F.col(text) if isinstance(text, str) else text
    words = F.split(col, " ")
    m = F.size(words)
    # Gram construction must NOT reference `words` inside a HOF lambda:
    # Catalyst does no CSE in lambdas, so element_at(words, i) re-splits
    # the whole document per element (O(L^2) — this was the real cost of
    # the old form, on top of the per-gram filter). Instead build n
    # shifted copies (shift j clamps trailing indices to the last word,
    # matching the old least(i+j, m) lookup) and fold them with zip_with:
    # zip_with arguments are evaluated ONCE, lambdas only touch bound
    # pair elements.
    def shifted(j):
        if j == 0:
            return words
        return F.concat(
            F.slice(words, 1 + j, F.greatest(m - j, F.lit(0))),
            F.array_repeat(F.element_at(words, -1), j))

    grams = shifted(0)
    for j in range(1, n):
        grams = F.zip_with(grams, shifted(j),
                           lambda a, b: F.concat_ws(" ", a, b))
    grams = F.slice(grams, 1, F.greatest(m - (n - 1), F.lit(1)))
    zero = F.lit(0).cast("long")
    init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                    zero.alias("cnt"), zero.alias("chars"))

    def merge(acc, g):
        # run/better appear in more than one field below: re-evaluated per
        # use (no CSE in HOF lambdas) but constant-size — cheap, unlike the
        # per-gram array filter this replaces.
        run = F.when(g == acc.getField("prev"),
                     acc.getField("run") + F.lit(1).cast("long")
                     ).otherwise(F.lit(1).cast("long"))
        chars = run * F.length(g)
        better = (run > acc.getField("cnt")) | (
            (run == acc.getField("cnt")) & (chars > acc.getField("chars")))
        return F.struct(
            g.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc.getField("cnt")).alias("cnt"),
            F.when(better, chars).otherwise(acc.getField("chars"))
            .alias("chars"))

    best = F.aggregate(F.array_sort(grams), init, merge)
    return {
        f"top{n}gram_char_frac_milli": _milli(
            best.getField("chars"), F.length(col)),
    }


# Gopher table A1 thresholds (Rae et al. 2021) the composed gate applies.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN_MILLI = 3_000_000
GOPHER_MAX_MEAN_WORD_LEN_MILLI = 10_000_000
GOPHER_MAX_SYMBOL_RATIO_MILLI = 100_000
GOPHER_MIN_ALPHA_FRAC_MILLI = 800_000
GOPHER_MAX_DUP_LINE_FRAC_MILLI = 300_000
GOPHER_MAX_DUP_CHAR_FRAC_MILLI = 200_000
GOPHER_MAX_TOP2GRAM_FRAC_MILLI = 200_000


def gopher_keep_col(stats: dict[str, Column]) -> Column:
    """The composed Gopher keep/drop decision over the integer-millionth
    stat columns (word bounds, mean word length, symbol ratio, alpha
    fraction, duplicate lines, top-2-gram mass)."""
    return (
        (stats["n_words"] >= GOPHER_MIN_WORDS)
        & (stats["n_words"] <= GOPHER_MAX_WORDS)
        & (stats["mean_word_len_milli"] >= GOPHER_MIN_MEAN_WORD_LEN_MILLI)
        & (stats["mean_word_len_milli"] <= GOPHER_MAX_MEAN_WORD_LEN_MILLI)
        & (stats["symbol_word_ratio_milli"] <= GOPHER_MAX_SYMBOL_RATIO_MILLI)
        & (stats["alpha_word_frac_milli"] >= GOPHER_MIN_ALPHA_FRAC_MILLI)
        & (stats["dup_line_frac_milli"] <= GOPHER_MAX_DUP_LINE_FRAC_MILLI)
        & (stats["dup_line_char_frac_milli"]
           <= GOPHER_MAX_DUP_CHAR_FRAC_MILLI)
        & (stats["top2gram_char_frac_milli"]
           <= GOPHER_MAX_TOP2GRAM_FRAC_MILLI)
    )


# ---------------------------------------------------------------------------
# Corpus-frequency rarity scoring (the CCNet perplexity-filter shape)
# ---------------------------------------------------------------------------

def rarity_score(df, id_col: str = "doc_id", text_col: str = "text",
                 broadcast_vocab: bool = True):
    """Corpus-frequency rarity scoring — the perplexity-filter shape
    (CCNet, Wenzek et al. 2020 scores docs with a KenLM model and keeps
    the unsurprising head/middle of the distribution). Here the language
    model is the corpus's own unigram distribution and the logarithm is
    replaced by integer inverse frequency, so the score is bit-exact
    across engines: per token, rarity = (1e6 * N_total) div count(token)
    — the token's inverse probability in millionths — and the doc score
    is one double division of the exact integer sum by the token count.
    Common-boilerplate docs score low, rare-token docs score high;
    thresholding the band mirrors CCNet's head/middle/tail split.

    Scale shape (100 TB): unigram counts are one map-side-combined
    groupBy over the exploded corpus; by Zipf the vocabulary is tiny
    relative to the corpus, so the count table broadcasts back onto the
    exploded tokens (hash-join if a web-scale vocab outgrows broadcast),
    and the per-doc mean is a combinable sum/count aggregate — two
    shuffles total, both on uniform keys. N_total rides a broadcast
    single-row cross join, never a driver collect. The 1e6*N_total
    product needs 128-bit headroom beyond ~9e12 corpus tokens — lift to
    DECIMAL there (same plan).
    """
    toks = df.select(F.col(id_col).alias("id"),
                     F.explode(F.split(text_col, " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("n_total"))
    # broadcast_vocab=False is the documented web-scale fallback: a
    # vocabulary that outgrows the driver takes the shuffle hash-join
    # (uniform keys) instead of an unconditional broadcast collect.
    vocab = F.broadcast(counts) if broadcast_vocab else counts
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("id", F.call_function(
            "div", F.lit(1_000_000) * F.col("n_total"), F.col("cnt"))
            .alias("r"))
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.sum("r").cast("long").alias("rarity_sum"))
        .select(F.col("id").alias(id_col), "n_tokens", "rarity_sum",
                (F.col("rarity_sum") / F.col("n_tokens"))
                .alias("rarity_mean"))
    )


def stupid_backoff_score(df, train_df, id_col: str = "doc_id",
                         text_col: str = "text",
                         alpha_milli: int = 400_000,
                         broadcast_vocab: bool = True):
    """Stupid Backoff bigram LM scoring (Brants et al. 2007 §4 — the
    LM Google built FOR distributed web-scale counting: no discounting,
    no normalization, so every model statistic is a raw count and every
    score term is one integer division). Counts come from
    ``train_df``; each scored document's bigram transition (w1, w2)
    contributes

        S(w2|w1) = (1e6 * c(w1 w2)) div c(w1)          if the bigram
                                                        was seen, else
                   (alpha * ((1e6 * c(w2)) div N)) div 1e6   (backoff
                                     to the unigram relative frequency;
                                     alpha = 0.4 in the paper), else 0.

    Bigram arrays build IN-ROW from pre-shifted slices (zip_with
    evaluates each argument once — never element_at inside a transform,
    the O(L²) trap), so the only shuffles are the two count groupBys
    and the count joins: unigrams are Zipf-tiny (broadcast), bigrams
    join on uniform keys, and N rides a broadcast single-row. Output:
    (id, n_transitions, n_backoff, lm_score_milli) with the score an
    order-free integer sum — hash-exact by construction."""
    toks = F.split(F.col(text_col), " ")
    uni = (train_df.select(F.explode(
        F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
    n_total = uni.agg(F.sum("c1").cast("long").alias("n_total"))
    tt = F.split(F.col(text_col), " ")
    bi = (train_df
          .select(F.explode(F.zip_with(
              F.slice(tt, 1, F.size(tt) - 1),
              F.slice(tt, 2, F.size(tt) - 1),
              lambda a, b: F.concat_ws(" ", a, b))).alias("bg"))
          .groupBy("bg").agg(F.count(F.lit(1)).alias("c2")))
    # w1/w2 ride the exploded struct instead of re-splitting bg: Java
    # split drops TRAILING empty tokens, so "a " would lose its empty
    # w2 and silently diverge from the SQL twin
    #
    # broadcast_vocab=False is the documented web-scale fallback
    # (mirrors rarity_score): a unigram vocabulary that outgrows the
    # driver — 100M+ rows for a web corpus — takes the shuffle
    # hash-join on uniform word keys instead of an unconditional
    # broadcast collect. Same rows either way; ta_lm_backoff's oracle
    # is join-strategy-agnostic.
    uni_w1 = uni.withColumnRenamed("w", "w1").withColumnRenamed(
        "c1", "c1_w1")
    uni_w2 = uni.withColumnRenamed("w", "w2").withColumnRenamed(
        "c1", "c1_w2")
    if broadcast_vocab:
        uni_w1, uni_w2 = F.broadcast(uni_w1), F.broadcast(uni_w2)
    scored = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(F.zip_with(
                      F.slice(toks, 1, F.size(toks) - 1),
                      F.slice(toks, 2, F.size(toks) - 1),
                      lambda a, b: F.struct(
                          a.alias("w1"), b.alias("w2"),
                          F.concat_ws(" ", a, b).alias("bg")))).alias("p"))
        .select("id", F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2"), F.col("p.bg").alias("bg"))
        .join(bi, "bg", "left")
        .join(uni_w1, "w1", "left")
        .join(uni_w2, "w2", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "id",
            F.when(F.col("c2").isNotNull(), F.call_function(
                "div", F.lit(1_000_000) * F.col("c2"), F.col("c1_w1")))
            .when(F.col("c1_w2").isNotNull(), F.call_function(
                "div",
                F.lit(alpha_milli) * F.call_function(
                    "div", F.lit(1_000_000) * F.col("c1_w2"),
                    F.col("n_total")),
                F.lit(1_000_000)))
            .otherwise(F.lit(0).cast("long")).alias("term"),
            F.col("c2").isNull().cast("int").alias("is_backoff"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"),
             F.sum("is_backoff").cast("long").alias("n_backoff"),
             F.sum("term").cast("long").alias("lm_score_milli"))
    )
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(scored, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_transitions", F.lit(0)).cast("long")
                    .alias("n_transitions"),
                    F.coalesce("n_backoff", F.lit(0)).cast("long")
                    .alias("n_backoff"),
                    F.coalesce("lm_score_milli", F.lit(0)).cast("long")
                    .alias("lm_score_milli")))


def ccnet_buckets(df, id_col: str = "doc_id",
                  score_col: str = "score_milli"):
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): cut
    the integer score distribution at the 1/3 and 2/3 mass points and
    assign each document by comparison against the two cut scores —
    exactly how CCNet applies percentile thresholds, so documents with
    EQUAL scores always land in the same bucket (ties never straddle a
    cut). Lower score = more "fluent"/common = head.

    Cut scores are defined as the smallest score whose cumulative count
    reaches ceil(N/3) (resp. 2N/3), via integer cross-multiplication
    (cum*3 >= N) — no rounding ambiguity. The whole thing is
    declarative: the cumulative walk runs over the DISTINCT-SCORE
    distribution table (bounded by score cardinality, not corpus rows —
    the documented single-partition window, same bound as
    ``sample_split``'s cumulative ranges), the two cuts plus N reduce
    to ONE row that broadcasts back, and the corpus itself never
    shuffles — zero driver state. The scored input is persisted (the
    pagerank pattern; the cache stays until the session unpersists it,
    past the last driver reference), because it feeds BOTH the
    distribution pass and the final assignment — without the persist an
    expensive upstream scoring chain (e.g. rarity) would re-execute
    once per reference.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window as _W

    s = df.select(F.col(id_col).alias("id"),
                  F.col(score_col).cast("long").alias("s")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    counts = s.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    w = _W.orderBy("s").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    cum = counts.withColumn("cum", F.sum("c").over(w))
    total = counts.agg(F.sum("c").cast("long").alias("n"))
    cuts = (cum.crossJoin(F.broadcast(total))
            .agg(F.min(F.when(F.col("cum") * 3 >= F.col("n"),
                              F.col("s"))).alias("cut1"),
                 F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"),
                              F.col("s"))).alias("cut2")))
    return (s.crossJoin(F.broadcast(cuts))
            .select(F.col("id").alias(id_col),
                    F.col("s").alias(score_col),
                    F.when(F.col("s") <= F.col("cut1"), "head")
                    .when(F.col("s") <= F.col("cut2"), "middle")
                    .otherwise("tail").alias("bucket")))


def bm25_score(df, query_terms: list[str], id_col: str = "doc_id",
               text_col: str = "text", k1_milli: int = 1_200_000,
               b_milli: int = 750_000):
    """BM25 relevance of every document against a fixed query — the
    query-relevance curation tier (rank a crawl against a target topic,
    keep the head; the retrieval-based cousin of DSIR's importance
    weights). Robertson/Spärck Jones BM25 with the logarithm replaced by
    the repo's log-free integer-inverse-frequency convention (same move
    as rarity_score), so scores are bit-exact across engines.

    Integer evaluation order (the oracle mirrors EVERY division):
      idf_milli  = (1e6 * N) div df_t
      rel_milli  = (1e6 * dl * N) div total_tokens        -- dl/avgdl
      norm_milli = (1e6 - b) + (b * rel_milli) div 1e6    -- 1-b+b*rel
      denom      = 1e6 * tf + (k1 * norm_milli) div 1e6
      term_milli = (idf_milli * tf * (1e6 + k1)) div denom
      bm25_milli = sum(term_milli)                         -- order-free

    Scale shape (100 TB): doc length is in-row ``size(split())`` — no
    explode for the length pass; the corpus explodes ONCE and filters to
    the query terms immediately (a handful of tokens — the filter
    prunes at the scan), so the tf aggregate shuffles only matching
    (id, term) pairs; df and the two corpus scalars broadcast back. The
    corpus itself never shuffles.

    int64 headroom: the worst intermediate is idf_milli * tf * 2.2e6
    with idf_milli up to 1e6*N (a df=1 term), so the integer chain is
    exact while N * tf_max stays under ~4.2e6 — past that (web-scale N
    with a singleton query term) lift idf_milli/term_milli to DECIMAL
    on both engines (HUGEINT side is free in DuckDB; same plan), the
    same documented lift rarity_score prescribes for its 1e6*N_total
    product."""
    div = lambda a, b: F.call_function("div", a, b)   # noqa: E731
    dl = df.select(F.col(id_col).alias("id"),
                   F.size(F.split(text_col, " ")).cast("long").alias("dl"))
    tot = dl.agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("dl").cast("long").alias("n_tokens"))
    tf = (df.select(F.col(id_col).alias("id"),
                    F.explode(F.split(text_col, " ")).alias("tok"))
          .filter(F.col("tok").isin(list(query_terms)))
          .groupBy("id", "tok").agg(F.count("*").cast("long").alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "id")
        .crossJoin(F.broadcast(tot))
        .withColumn("idf_milli",
                    div(F.lit(1_000_000) * F.col("n_docs"), F.col("df")))
        .withColumn("rel_milli",
                    div(F.lit(1_000_000) * F.col("dl") * F.col("n_docs"),
                        F.col("n_tokens")))
        .withColumn("norm_milli",
                    F.lit(1_000_000 - b_milli)
                    + div(F.lit(b_milli) * F.col("rel_milli"),
                          F.lit(1_000_000)))
        .withColumn("denom",
                    F.lit(1_000_000) * F.col("tf")
                    + div(F.lit(k1_milli) * F.col("norm_milli"),
                          F.lit(1_000_000)))
        .withColumn("term_milli",
                    div(F.col("idf_milli") * F.col("tf")
                        * F.lit(1_000_000 + k1_milli), F.col("denom")))
    )
    per_doc = scored.groupBy("id").agg(
        F.sum("term_milli").cast("long").alias("bm25_milli"),
        F.count("*").cast("long").alias("n_query_terms"))
    return (
        dl.join(per_doc, "id", "left")
        .select(F.col("id").alias(id_col),
                F.col("dl").alias("n_tokens"),
                F.coalesce("n_query_terms", F.lit(0)).cast("long")
                .alias("n_query_terms"),
                F.coalesce("bm25_milli", F.lit(0)).cast("long")
                .alias("bm25_milli"))
    )


def classifier_bucket_col(feature: Column, nbuckets: int) -> Column:
    """Hashed feature bucket: first 32 md5 bits mod nbuckets (fastText's
    hashing trick; md5 keeps it bit-exact across engines)."""
    return (F.conv(F.substring(F.md5(feature), 1, 8), 16, 10)
            .cast("long") % nbuckets)


def hashed_features(df, nbuckets: int, id_col: str = "doc_id",
                    text_col: str = "text"):
    """(id, bucket) rows: hashed unigram + bigram features WITH
    multiplicity (the fastText counting), 2 rows per token. Shared by
    the classifier inference and DSIR importance weighting so both
    tiers score the exact same feature space."""
    toks = F.split(F.col(text_col), " ")
    nxt = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    # zip_with pads the shorter side with null and concat null-propagates,
    # so the dangling last pair drops in the filter (args evaluate once —
    # the pre-shifted-arrays pattern, never element_at in a lambda).
    bigrams = F.filter(
        F.zip_with(toks, nxt, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.concat(toks, bigrams)).alias("feat"),
    ).select("id", classifier_bucket_col(F.col("feat"), nbuckets)
             .alias("bucket"))


def quality_classifier(df, weights, nbuckets: int = 1 << 20,
                       threshold_milli: int = 0,
                       id_col: str = "doc_id", text_col: str = "text"):
    """fastText-shape quality classifier inference (Joulin et al. 2017,
    arXiv:1607.01759) — the model-based filter tier of CCNet / LLaMA /
    DCLM pipelines, which score pages with a linear classifier over
    hashed bag-of-n-gram features trained on good-vs-crawl text.

    This is the inference pass: unigram + bigram features (with
    multiplicity, as fastText counts them), hashed into ``nbuckets``
    buckets, linear ``weights`` (a (bucket, w:long) DataFrame — learned
    offline in production, seeded deterministically in the test query),
    per-doc decision on the MEAN logit. No transcendentals anywhere:
    sigmoid is monotone, so thresholding the mean logit IS thresholding
    the class probability, and every emitted value stays integer /
    bit-exact across engines (the one double division is exact-int over
    int, like the rarity mean).

    Scale shape (100 TB): the explode is 2 rows per token; the weight
    table is bounded by nbuckets (fastText's 2M buckets x 8 B ~ 16 MB)
    so it BROADCASTS — the corpus never shuffles for the join — and the
    per-doc sum/count is one map-side-combined groupBy on doc_id.

    Output: (doc_id, n_features, logit_sum, logit_milli, keep).
    """
    feats = hashed_features(df, nbuckets, id_col, text_col)
    scored = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .select("id", F.coalesce(F.col("w"), F.lit(0)).cast("long")
                .alias("w"))
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").cast("long").alias("n_features"),
             F.sum("w").cast("long").alias("logit_sum"))
        .select(
            F.col("id").alias(id_col), "n_features", "logit_sum",
            F.floor(F.col("logit_sum") * 1000000.0 / F.col("n_features")
                    + 0.5).cast("long").alias("logit_milli"))
        .withColumn("keep", F.col("logit_milli") >= threshold_milli)
    )


# ---------------------------------------------------------------------------
# C4-style line/document filters (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 5


def c4_cols(lines: str | Column = "lines") -> dict[str, Column]:
    """The C4 cleaning rules over an array-of-lines column, pure
    Catalyst (single scan, in-row HOFs, zero added shuffles):

    * keep a line iff it ends in a terminal punctuation mark, has >=
      C4_MIN_LINE_WORDS words, and does not mention "javascript";
    * drop the whole page iff the kept text has < C4_MIN_SENTENCES
      sentences (terminal-punctuation count), or the raw page contains
      "lorem ipsum" or a curly brace.

    Returns integer/boolean stat columns plus the rebuilt text_kept, so
    the decision AND the surviving text are both oracle-checkable.
    """
    ln = F.col(lines) if isinstance(lines, str) else lines

    def _line_keep(l: Column) -> Column:
        return (l.rlike('[.!?"]$')
                & (F.size(F.split(l, " ")) >= C4_MIN_LINE_WORDS)
                & ~F.lower(l).contains("javascript"))

    kept = F.filter(ln, _line_keep)
    text_kept = F.concat_ws("\n", kept)
    full = F.concat_ws("\n", ln)
    n_sentences = (F.length(text_kept)
                   - F.length(F.regexp_replace(text_kept, r"[.!?]", "")))
    has_lorem = F.lower(full).contains("lorem ipsum")
    has_brace = full.contains("{")
    return {
        "n_lines": F.size(ln).cast("long"),
        "n_kept_lines": F.size(kept).cast("long"),
        "n_sentences": n_sentences.cast("long"),
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "keep": ((n_sentences >= C4_MIN_SENTENCES)
                 & ~has_lorem & ~has_brace),
        "text_kept": text_kept,
    }


# ---------------------------------------------------------------------------
# Real BPE encoding (Sennrich et al. 2016 / the GPT-2 merge loop)
# ---------------------------------------------------------------------------

def bpe_merge_word(word: str, ranks: dict) -> tuple:
    """Greedy BPE for one pre-token: each round merges EVERY occurrence
    of the lowest-rank adjacent pair (the GPT-2 `bpe()` loop), until no
    known pair remains. Word-internal, plain characters (no end-of-word
    marker — documented simplification vs Sennrich's </w>)."""
    parts = tuple(word)
    while len(parts) > 1:
        best_rank, pair = None, None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, pair = r, (parts[i], parts[i + 1])
        if pair is None:
            break
        out, i = [], 0
        while i < len(parts):
            if (i < len(parts) - 1
                    and (parts[i], parts[i + 1]) == pair):
                out.append(parts[i] + parts[i + 1])
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = tuple(out)
    return parts


def bpe_encode_df(df, merges: list, id_col: str = "doc_id",
                  text_col: str = "text"):
    """Real BPE encoding as an Arrow kernel — the merge loop is
    iterative per word, the documented Pandas-UDF seam (everything
    expressible stays Catalyst; this is not). Pre-tokenization is
    ``_BPE_TOKEN_RE``, the SAME regex ``bpe_token_count_col`` counts,
    so ``n_pretokens`` here always equals that cheap column; leading
    pre-token spaces are stripped before merging (the Ġ-less form).
    The word cache is per-TASK (it outlives each Arrow batch — crawl
    text repeats words across batches too) with a size cap, so a
    high-lexical-diversity partition (hex ids, URLs) cannot grow it
    without bound.

    Scale shape: ``merges`` rides the task closure — a production
    50k-merge table is ~1 MB, exactly the payload Spark ships once per
    executor; the capped per-task word cache exploits crawl text's
    heavy word repetition, so cost is ~O(distinct words) per task, and
    rows never shuffle (mapInPandas, partition-preserving).

    Output: (id_col, n_pretokens, n_tokens, encoded) where ``encoded``
    joins subtokens with spaces and pre-tokens with ``|``.
    """
    import re as _re
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (LongType as _L, StringType as _S,
                                   StructField as _F, StructType as _T)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    pat = _re.compile(_BPE_TOKEN_RE)
    schema = _T([
        _F("id", _S(), False), _F("n_pretokens", _L()),
        _F("n_tokens", _L()), _F("encoded", _S()),
    ])

    def kernel(batches: _It) -> _It:
        import pandas as pd
        cache: dict = {}
        for b in batches:
            rows = []
            for doc_id, text in zip(b["id"], b["text"]):
                pre = pat.findall(text or "")
                words, n_tok = [], 0
                for w in pre:
                    w = w.lstrip(" ")
                    toks = cache.get(w)
                    if toks is None:
                        if len(cache) >= 1_000_000:
                            cache.clear()     # cap worker memory
                        toks = bpe_merge_word(w, ranks)
                        cache[w] = toks
                    n_tok += len(toks)
                    words.append(" ".join(toks))
                rows.append((str(doc_id), len(pre), n_tok,
                             "|".join(words)))
            yield pd.DataFrame(rows, columns=[
                "id", "n_pretokens", "n_tokens", "encoded"])

    src = df.select(F.col(id_col).cast("string").alias("id"),
                    F.col(text_col).alias("text"))
    return (src.mapInPandas(kernel, schema=schema)
            .withColumnRenamed("id", id_col))


_BPE_RS = "\x1e"      # symbol delimiter for the merge-by-replace encoding


def _bpe_words(df, text_col: str = "text"):
    """The one corpus scan of BPE training: pre-tokenize with the shared
    GPT-2 regex, strip leading spaces (the Ġ-less form), exclude
    delimiter-bearing words, and aggregate to the distinct-word
    frequency table with each word encoded as a ``\\x1e``-delimited
    symbol string (delimiter doubled between symbols).

    PINNED CONVENTION (ADVICE r6, alongside the ``\\x1e`` exclusion):
    the symbol split regex ``'.'`` matches neither ``\\n`` nor ``\\r``
    in Java regex or DuckDB RE2, so whitespace pretokens bearing
    newlines ('\\n', '\\n\\n', '\\r\\n') collapse to empty symbol
    strings and bpe_train never learns newline merges. Spark/DuckDB
    parity is exact (the oracle CTEs mirror the same regex); flipping
    both sides to dotall would change ``ta_bpe_train``'s pinned oracle
    results, so the exclusion stays — newline-sensitive vocabularies
    would pre-map newlines to printable sentinels upstream."""
    rs = _BPE_RS
    return (
        df.select(F.explode(F.regexp_extract_all(
            F.col(text_col), F.lit(_BPE_TOKEN_RE), F.lit(0))).alias("w"))
        .select(F.ltrim("w").alias("w"))
        .where(F.instr("w", rs) == 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.concat(
            F.lit(rs),
            F.array_join(F.regexp_extract_all(
                "w", F.lit("."), F.lit(0)), rs + rs),
            F.lit(rs)).alias("s"))
    )


def _bpe_pairs(cur):
    """One training round's frequency-weighted adjacent-pair counts
    (overlap-inclusive ``get_stats`` semantics) over the working word
    table — a single map-side-combined groupBy."""
    rs = _BPE_RS
    syms = F.split(F.expr(f"trim(BOTH '{rs}' FROM s)"), rs + rs)
    return (
        cur.select("freq", syms.alias("a"))
        .where(F.size("a") >= 2)
        .select("freq", F.explode(F.arrays_zip(
            F.slice("a", 1, F.size("a") - 1).alias("l"),
            F.slice("a", 2, F.size("a") - 1).alias("r"),
        )).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(df, n_merges: int, id_col: str = "doc_id",
              text_col: str = "text", min_count: int = 2):
    """Learn a BPE merge table from the corpus — the distributed form of
    Sennrich et al. 2016 ``learn_bpe`` (word-internal symbols, no </w>
    marker, matching ``bpe_merge_word``'s convention so train->encode
    composes). Entirely Catalyst: no Python runs on any executor.

    Per round: (1) adjacent symbol pairs are counted naively (every
    adjacent index, overlaps included — ``get_stats`` semantics),
    weighted by word frequency, in ONE map-side-combined groupBy over
    the *distinct-word* table; (2) the argmax pair (ties broken by
    lexicographically smallest (left, right) — a pinned, deterministic
    refinement of the reference's arbitrary dict-order tie) is taken
    with TakeOrderedAndProject; (3) the merge is applied as a pure
    string projection: each word rides as ``\\x1e a \\x1e\\x1e b \\x1e``
    (every symbol delimited on BOTH sides, delimiter doubled BETWEEN
    symbols so adjacent matches never share bytes) and ``replace()``'s
    left-to-right non-overlapping semantics — identical in the JVM and
    DuckDB — IS greedy BPE application. Words containing \\x1e (U+001E
    record separator) are excluded up front on both sides.

    Training stops early when the best pair's count falls below
    ``min_count`` (the reference's min-frequency guard).

    Scale shape: the corpus is scanned ONCE (pre-tokenize -> word
    frequency groupBy); every later round touches only the distinct-word
    table, which Zipf caps at millions of rows regardless of corpus
    bytes. Driver state is one (pair, count) row per round — the merge
    table itself, bounded by the vocabulary size being learned (the
    kmeans-centroid pattern). The working table is re-persisted per
    round and the previous round released, so round r never replays
    rounds 1..r-1.

    Returns (merge_rank, pair_left, pair_right, pair_count) with ranks
    1..n_merges in learn order — feed ``[(l, r), ...]`` straight into
    ``bpe_encode_df``.
    """
    from pyspark import StorageLevel

    spark = df.sparkSession
    rs = _BPE_RS
    out_schema = ("merge_rank int, pair_left string, pair_right string, "
                  "pair_count long")
    cur = _bpe_words(df, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    prev = None
    merges: list = []
    try:
        for rank in range(1, n_merges + 1):
            # this collect is also the action that materializes cur's
            # persist, so the SUPERSEDED round can be released right
            # after it — one job per round instead of the former
            # collect + explicit count() materialization pair, with the
            # same no-replay guarantee (round r still never recomputes
            # rounds 1..r-1: its input was cached by this action before
            # the predecessor is dropped)
            best = (_bpe_pairs(cur).orderBy(F.desc("cnt"), "l", "r")
                    .limit(1).collect())
            if prev is not None:
                prev.unpersist(blocking=False)
                prev = None
            if not best or best[0]["cnt"] < min_count:
                break
            a, b, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            merges.append((rank, a, b, cnt))
            nxt = cur.withColumn("s", F.replace(
                "s", F.lit(rs + a + rs + rs + b + rs),
                F.lit(rs + a + b + rs),
            )).persist(StorageLevel.MEMORY_AND_DISK)
            prev, cur = cur, nxt
    finally:
        if prev is not None:
            prev.unpersist(blocking=False)
        cur.unpersist(blocking=False)
    return spark.createDataFrame(merges, out_schema)


# ---------------------------------------------------------------------------
# Unicode text repair (the ftfy-shaped cleaning tier)
# ---------------------------------------------------------------------------

_MOJIBAKE_MARKERS = ("Ã", "Â", "â€", "Ð", "Ñ")


def _sloppy_1252_encode(s: str) -> bytes:
    """cp1252 encode with the latin-1 fallback for the five code points
    cp1252 leaves unmapped (0x81/8D/8F/90/9D) — ftfy's "sloppy
    windows-1252". A mis-decode of UTF-8 bytes as cp1252 passes those
    bytes through as C1 controls, so strict cp1252 cannot re-encode its
    own mojibake."""
    out = bytearray()
    for ch in s:
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            o = ord(ch)
            if o < 256:
                out.append(o)
            else:
                raise
    return bytes(out)


def fix_text(text: str) -> tuple[str, bool]:
    """Deterministic unicode repair, the fixed-rule subset of what
    pipelines run ftfy for -- returns (fixed, mojibake_repaired):

    1. mojibake: when the text carries classic UTF-8-read-as-latin-1
       markers (A-tilde / A-circumflex / a-circumflex+euro / the
       Cyrillic-capital pair bytes) and the latin-1 -> utf-8 round-trip
       decodes cleanly to something different, take the repaired form
       (ONE pass -- the common single mis-decode; a double mis-decode
       repairs again on the next corpus pass, deliberately not a loop
       here). cp1252 fallback covers the 0x80-0x9F band (curly quotes
       land there).
    2. NFC normalization (combining sequences -> precomposed);
    3. line endings: CRLF and bare CR -> LF;
    4. other C0/C1 control characters stripped (except LF and TAB).
    """
    import unicodedata
    fixed, repaired = text or "", False
    if any(m in fixed for m in _MOJIBAKE_MARKERS):
        candidate = None
        for enc in ("latin-1", "sloppy-1252"):
            try:
                raw = (_sloppy_1252_encode(fixed) if enc == "sloppy-1252"
                       else fixed.encode(enc))
                candidate = raw.decode("utf-8")
                break
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
        if candidate is not None and candidate != fixed:
            fixed, repaired = candidate, True
    fixed = unicodedata.normalize("NFC", fixed)
    fixed = fixed.replace("\r\n", "\n").replace("\r", "\n")
    fixed = "".join(
        ch for ch in fixed
        if ch in "\n\t" or unicodedata.category(ch) != "Cc")
    return fixed, repaired


def fix_text_df(df, id_col: str = "doc_id", text_col: str = "text"):
    """Arrow kernel applying ``fix_text`` per row (the unicodedata
    tables are the Python dependency -- Catalyst has no NFC).
    Partition-preserving, no shuffle; output (id_col, text_fixed,
    changed, mojibake_repaired)."""
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (BooleanType as _B, StringType as _S,
                                   StructField as _F, StructType as _T)
    schema = _T([_F("id", _S(), False), _F("text_fixed", _S()),
                 _F("changed", _B()), _F("mojibake_repaired", _B())])

    def kernel(batches: _It) -> _It:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id, text in zip(b["id"], b["text"]):
                fixed, rep = fix_text(text)
                rows.append((str(doc_id), fixed, fixed != (text or ""),
                             rep))
            yield pd.DataFrame(rows, columns=[
                "id", "text_fixed", "changed", "mojibake_repaired"])

    src = df.select(F.col(id_col).cast("string").alias("id"),
                    F.col(text_col).alias("text"))
    return (src.mapInPandas(kernel, schema=schema)
            .withColumnRenamed("id", id_col))
