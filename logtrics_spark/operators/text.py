"""Text-analysis operators for training-data pipelines.

All JVM-side (built-in pyspark.sql.functions — no Python in the hot
path), so they whole-stage-codegen and scale linearly with the scan:
- token_count: whitespace tokens + a BPE-ish subword regex count
- quality_score: a blend of length, punctuation ratio and stopword ratio
- language_id: stopword-hit heuristic over a few languages
- fingerprint: deterministic 64-bit content fingerprint
- Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher", appendix A1.1):
  word-count bounds, mean word length, symbol-to-word ratio,
  bullet/ellipsis line fractions, alphabetic-word fraction, required
  stop words — each a per-document Catalyst HOF expression, plus the
  composed ``gopher_keep`` predicate with the published thresholds
- Gopher repetition rules (appendix A1.1, "repetitious" filters):
  duplicate line / paragraph (character) fractions per document as
  HOF expressions, and the distributed top-n-gram / duplicated-n-gram
  character fractions (explode + groupBy — the shuffle carries
  (doc, gram) rows, never documents, so it scales with the corpus)

Each is a column-expression factory over a text column (or a
DataFrame transform for the n-gram fractions); the matching DuckDB-SQL
oracles live in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny public stopword sets per language (heuristic language-id only)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "en", "es", "una"],
}


def _check_language_keys(stopwords: dict) -> None:
    """``language_id``'s zero-hit fallback is a (0, 'und') sentinel that
    wins the lang tiebreak only while every language key sorts before
    'und'; a key above it (say 'vi' or 'zh') would be returned for
    zero-hit and null documents instead."""
    above = sorted(lg for lg in stopwords if lg >= "und")
    if above:
        raise ValueError(f"language keys {above} sort at or above the 'und' sentinel")


_check_language_keys(STOPWORDS)

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    # tokens == whitespace runs + 1 on trimmed text (identical to
    # size(split(trim, \s+)) including the ""->1 and null->null edges)
    # without materializing the split array per document
    return F.regexp_count(F.trim(c), F.lit(r"\s+")) + F.lit(1)


def bpe_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    # regexp_count of the char class == length minus length-after-replace
    # (each punct char is one non-overlapping match), without allocating
    # the stripped copy of every document
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-bounded, case-insensitive).

    regexp_count, not size(regexp_extract_all): the count of
    non-overlapping matches is identical (null text -> null either
    way), but extract_all materializes every matched substring into an
    array only to take its length — at sf1.0 the annotate projection
    runs five of these alternation scans per document (quality + 4
    language arms), so the allocation is on the hot path.
    """
    c = F.col(text) if isinstance(text, str) else text
    pat = r"(?i)\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(c, F.lit(pat))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    toks = whitespace_token_count(c)
    # guard on isNotNull, not toks > 0 (r7): toks >= 1 whenever the text
    # is non-null (regexp_count + 1), and for null text the old null
    # condition fell through to 0.0 exactly like this branch — identical
    # values, but `toks > 0` re-evaluated the trim + whitespace scan a
    # second time inside the same expression (guide §2.3 narrower
    # per-row work; measured in the r7 annotate decomposition)
    return F.when(
        c.isNotNull(), stopword_hits(c, lang).cast("double") / toks.cast("double")
    ).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality: long enough, low punct noise, has stopwords.

    The exact blend is this engine's own heuristic (the reference has no
    notion of quality); weights chosen so typical clean English prose
    scores > 0.5 and symbol soup scores near 0.
    """
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4.0)
    stop_score = F.least(stopword_ratio(c) * 3.0, F.lit(1.0))
    return (len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3).cast("double")


def language_id(text: Column | str) -> Column:
    """Pick the language whose stopword hit-count is highest; 'und' if 0."""
    c = F.col(text) if isinstance(text, str) else text
    langs = list(STOPWORDS)
    pairs = [F.struct(stopword_hits(c, lg).alias("hits"), F.lit(lg).alias("lang")) for lg in langs]
    # greatest of structs compares hits first, then lang (stable tiebreak).
    # The zero-hit fallback rides as a sentinel (0, 'und') arm INSIDE the
    # greatest (r7): the former `when(best.hits > 0, best.lang)` shape
    # referenced `best` twice, and Catalyst duplicates the whole
    # greatest(...) tree per reference — every language's alternation
    # regex scanned each document TWICE (measured: language_id alone
    # 0.42 s -> 0.26 s at sf0.1).  Value-identical: any real hit beats
    # the sentinel on hits; at all-zero hits the sentinel wins the lang
    # tiebreak because every stopword key sorts before 'und' (checked at
    # import by _check_language_keys), and null text yields
    # structs with null hits, which sort below the sentinel's 0 (nulls
    # first in struct ordering), i.e. the same 'und' the old
    # null-condition fallthrough produced (pinned by the edge probe and
    # the lang_id/quality_score oracles).
    pairs.append(F.struct(F.lit(0).alias("hits"), F.lit("und").alias("lang")))
    return F.greatest(*pairs)["lang"]


def fingerprint64(text: Column | str) -> Column:
    """Deterministic 64-bit document fingerprint (xxhash64 of the text).

    The 'rolling hash' role from the brief: a stable content identity for
    exact-dup detection and lineage joins, computed JVM-side.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(c)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection with all text-analysis columns."""
    c = F.col(text_col)
    return df.select(
        "*",
        whitespace_token_count(c).alias("n_ws_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        language_id(c).alias("lang_id"),
        fingerprint64(c).alias("fp64"),
    )


# ------------------------------------------------------------------ Gopher
# Document-quality rules from Rae et al. 2021 (Gopher), appendix A1.1,
# as re-used by MassiveText / RefinedWeb / Dolma.  All per-document
# metrics below are pure Catalyst expressions (whole-stage codegen, no
# Python); the n-gram repetition metrics are distributed explode+groupBy
# transforms further down.  "Word" means a whitespace token, "line" a
# '\n'-separated segment, "paragraph" a blank-line-separated block —
# pinned here so the DuckDB oracles replicate the exact definitions.

# the paper's required-word list: a doc must contain >= 2 of these
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _c(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def word_count(text: Column | str) -> Column:
    """Whitespace word count; 0 for empty/blank text."""
    c = _c(text)
    # runs + 1, not size(split): same count, no per-doc array
    return F.when(
        F.length(F.trim(c)) > 0, F.regexp_count(F.trim(c), F.lit(r"\s+")) + F.lit(1)
    ).otherwise(F.lit(0))


def mean_word_length(text: Column | str) -> Column:
    """Mean characters per whitespace word (sum of word lengths / words).

    Sum of word lengths == non-whitespace character count, so no HOF is
    needed.  NULL for empty text (no words to average).
    """
    c = _c(text)
    n = word_count(c)
    # non-whitespace chars == length minus whitespace-char count (each
    # \s char is one match) — no stripped copy of the document
    chars = F.length(c) - F.regexp_count(c, F.lit(r"\s"))
    return F.when(n > 0, chars.cast("double") / n.cast("double"))


def symbol_word_ratio(text: Column | str) -> Column:
    """(# of '#' or ellipsis occurrences) / words — Gopher drops > 0.1.

    Ellipsis counts both the three-dot spelling and U+2026; 0.0 for
    empty text.
    """
    c = _c(text)
    n = word_count(c)
    sym = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    return F.when(n > 0, sym.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def alpha_word_frac(text: Column | str) -> Column:
    """Fraction of words containing >= 1 alphabetic char — Gopher keeps >= 0.8."""
    c = _c(text)
    n = word_count(c)
    words = F.split(F.trim(c), r"\s+")
    hits = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def gopher_stop_hits(text: Column | str) -> Column:
    """How many DISTINCT required stop words appear (word-bounded,
    case-insensitive) — Gopher keeps docs containing >= 2 of the 8."""
    c = _c(text)
    flags = [
        F.when(c.rlike(r"(?i)\b" + w + r"\b"), 1).otherwise(0) for w in GOPHER_STOPWORDS
    ]
    total = flags[0]
    for f in flags[1:]:
        total = total + f
    return total


def _lines(text: Column | str) -> Column:
    return F.split(_c(text), r"\n")


def _paragraphs(text: Column | str) -> Column:
    return F.split(_c(text), r"\n{2,}")


def bullet_line_frac(text: Column | str) -> Column:
    """Fraction of lines starting with a bullet ('•', '-', '*') — Gopher
    drops docs where > 90% of lines are bullets."""
    lines = _lines(text)
    hits = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[•\-\*]")))
    return hits.cast("double") / F.size(lines).cast("double")


def ellipsis_line_frac(text: Column | str) -> Column:
    """Fraction of lines ending with an ellipsis — Gopher drops > 30%."""
    lines = _lines(text)
    hits = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$")))
    return hits.cast("double") / F.size(lines).cast("double")


def _dup_frac(arr: Column) -> Column:
    n = F.size(arr)
    return (n - F.size(F.array_distinct(arr))).cast("double") / n.cast("double")


def _dup_char_frac(arr: Column) -> Column:
    zero = F.lit(0).cast("long")
    tot = F.aggregate(arr, zero, lambda a, x: a + F.length(x))
    uniq = F.aggregate(F.array_distinct(arr), zero, lambda a, x: a + F.length(x))
    return F.when(tot > 0, (tot - uniq).cast("double") / tot.cast("double")).otherwise(
        F.lit(0.0)
    )


def dup_line_frac(text: Column | str) -> Column:
    """Fraction of lines that repeat an earlier line — Gopher drops > 0.30."""
    return _dup_frac(_lines(text))


def dup_line_char_frac(text: Column | str) -> Column:
    """Fraction of line characters inside repeated lines (chars of
    occurrences beyond each line's first) — Gopher drops > 0.20."""
    return _dup_char_frac(_lines(text))


def dup_paragraph_frac(text: Column | str) -> Column:
    """Duplicate-paragraph fraction — Gopher drops > 0.30."""
    return _dup_frac(_paragraphs(text))


def dup_paragraph_char_frac(text: Column | str) -> Column:
    """Duplicate-paragraph character fraction — Gopher drops > 0.20."""
    return _dup_char_frac(_paragraphs(text))


def gopher_keep(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_dup_paragraph_frac: float = 0.3,
    max_dup_paragraph_char_frac: float = 0.2,
) -> Column:
    """The composed per-document Gopher predicate (boolean keep column)
    with the paper's published thresholds as defaults.

    Covers every appendix-A1.1 rule that is per-document-local; the
    n-gram repetition rules need a distributed pass — see
    ``gopher_repetition_keep`` / ``top_ngram_char_frac`` /
    ``dup_ngram_char_frac``.
    """
    c = _c(text)
    n = word_count(c)
    mwl = mean_word_length(c)
    return (
        (n >= min_words)
        & (n <= max_words)
        & mwl.isNotNull()
        & (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len)
        & (symbol_word_ratio(c) <= max_symbol_word_ratio)
        & (bullet_line_frac(c) <= max_bullet_line_frac)
        & (ellipsis_line_frac(c) <= max_ellipsis_line_frac)
        & (alpha_word_frac(c) >= min_alpha_word_frac)
        & (gopher_stop_hits(c) >= min_stop_hits)
        & (dup_line_frac(c) <= max_dup_line_frac)
        & (dup_line_char_frac(c) <= max_dup_line_char_frac)
        & (dup_paragraph_frac(c) <= max_dup_paragraph_frac)
        & (dup_paragraph_char_frac(c) <= max_dup_paragraph_char_frac)
    )


def _word_ngrams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, gram) rows of lowercased whitespace-word n-grams, one row
    per OCCURRENCE.  Distributed: documents never ride the shuffle,
    only (id, gram) pairs do.

    r7 shape: posexplode with the word array retained on the row and
    the gram sliced/joined in the same codegen stage — no lead()
    window, so the per-doc exchange + sort the r6 shape paid before any
    gram existed is gone (same change as dedup._shingle_rows, measured
    ~35% faster there plus one exchange removed).  _ensure_parallel
    still spreads a few-file corpus first: without the window's
    exchange the explode would otherwise run in the scan's partitions.
    """
    from logtrics_spark.operators.dedup import _ensure_parallel

    df = _ensure_parallel(df, id_col)
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        df.select(F.col(id_col).alias("id"), words.alias("_ws"))
        .select("id", "_ws", F.posexplode("_ws").alias("pos", "_w0"))
        .where(F.col("pos") <= F.size("_ws") - n)
        .select("id", F.slice("_ws", F.col("pos") + 1, n).alias("ws"))
        .select("id", F.array_join("ws", " ").alias("gram"))
    )


def top_ngram_char_frac(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document fraction of characters covered by the MOST FREQUENT
    word n-gram: count(top gram) * len(top gram) / len(text).

    Gopher thresholds: drop if > 0.20 (n=2), > 0.18 (n=3), > 0.16 (n=4).
    The top gram tie-breaks deterministically on (count desc, gram asc)
    so the result is engine-stable.  Docs with fewer than n words get
    frac 0.0.  Output: (id_col, top_gram, top_count, frac).

    Sharp edge (faithful to the published formula, which public
    implementations also keep): a count-1 "top" gram still counts, so a
    SHORT document can exceed the threshold with no repetition at all
    (one 4-gram is easily >16% of a 20-word doc's characters) — the
    rule presumes web-length documents; on short-doc corpora raise the
    thresholds or filter on length first.
    """
    grams = _word_ngrams(df, n, text_col, id_col)
    counts = grams.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
    # max of (cnt, negated-lexicographic gram) is awkward; use min_by over
    # a struct ordered (cnt desc) via max_by on (cnt, reverse-gram) —
    # instead pick with a deterministic two-level max: max cnt, then min
    # gram among ties.
    top_cnt = counts.groupBy("id").agg(F.max("cnt").alias("cnt"))
    top = (
        counts.join(top_cnt, ["id", "cnt"])
        .groupBy("id", "cnt")
        .agg(F.min("gram").alias("gram"))
    )
    base = df.select(
        F.col(id_col).alias("id"), F.length(F.col(text_col)).alias("_chars")
    )
    return (
        base.join(top, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("gram").alias("top_gram"),
            F.coalesce("cnt", F.lit(0)).alias("top_count"),
            F.when(
                F.col("cnt").isNotNull() & (F.col("_chars") > 0),
                F.col("cnt") * F.length("gram") / F.col("_chars").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("frac"),
        )
    )


def dup_ngram_char_frac(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document fraction of characters inside DUPLICATED word
    n-grams: sum over grams with count > 1 of (count - 1) * len(gram),
    over len(text) — i.e. the characters occupied by occurrences beyond
    each gram's first (this exact formula is pinned here because public
    implementations differ on whether the first occurrence counts).

    Gopher thresholds: drop if > 0.15/0.14/0.13/0.12/0.11/0.10 for
    n = 5..10.  Output: (id_col, dup_chars, frac).
    """
    grams = _word_ngrams(df, n, text_col, id_col)
    counts = grams.groupBy("id", "gram").agg(F.count("*").alias("cnt"))
    dup = (
        counts.where(F.col("cnt") > 1)
        .groupBy("id")
        .agg(F.sum((F.col("cnt") - 1) * F.length("gram")).alias("dup_chars"))
    )
    base = df.select(
        F.col(id_col).alias("id"), F.length(F.col(text_col)).alias("_chars")
    )
    return base.join(dup, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        F.when(
            F.col("_chars") > 0,
            F.coalesce("dup_chars", F.lit(0)).cast("double") / F.col("_chars"),
        )
        .otherwise(F.lit(0.0))
        .alias("frac"),
    )


# paper thresholds for the distributed repetition rules
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: dict[int, float] | None = None,
    dup_ns: dict[int, float] | None = None,
) -> DataFrame:
    """Ids surviving the n-gram repetition rules (one (id) row per
    keeper).  Each n costs one explode + groupBy pass; the paper's full
    set is 9 passes — pass smaller dicts to trade coverage for scans.
    """
    top_ns = GOPHER_TOP_NGRAM_MAX if top_ns is None else top_ns
    dup_ns = GOPHER_DUP_NGRAM_MAX if dup_ns is None else dup_ns
    keep = df.select(F.col(id_col))
    for n, mx in sorted(top_ns.items()):
        ok = (
            top_ngram_char_frac(df, n, text_col, id_col)
            .where(F.col("frac") <= mx)
            .select(id_col)
        )
        keep = keep.join(ok, id_col, "left_semi")
    for n, mx in sorted(dup_ns.items()):
        ok = (
            dup_ngram_char_frac(df, n, text_col, id_col)
            .where(F.col("frac") <= mx)
            .select(id_col)
        )
        keep = keep.join(ok, id_col, "left_semi")
    return keep


# ---------------------------------------------------------------------- C4
# Line- and document-level cleaning from Raffel et al. 2020 ("Exploring
# the Limits of Transfer Learning with a Unified Text-to-Text
# Transformer", JMLR — the C4 corpus recipe, §2.2), the other canonical
# public filter set next to Gopher's.  All pure Catalyst HOFs.

TERMINAL_PUNCT_RE = r'[.!?"”]$'  # period/!/?/quote (C4: "terminal punctuation")


def c4_clean(
    text: Column | str,
    min_line_words: int = 5,
    require_terminal: bool = True,
    drop_word: str | None = "javascript",
    joiner: str = "\n",
) -> Column:
    """Rebuild the text from only the lines C4 keeps: >= 5 words,
    ending in terminal punctuation, and not containing the word
    'javascript' (boilerplate cookie/JS warnings).  Returns the cleaned
    text column (may be empty when nothing survives)."""
    lines = F.split(_c(text), r"\n")

    def keep(line: Column) -> Column:
        ok = F.size(F.split(F.trim(line), r"\s+")) >= min_line_words
        if require_terminal:
            ok = ok & F.rtrim(line).rlike(TERMINAL_PUNCT_RE)
        if drop_word:
            ok = ok & ~F.lower(line).rlike(r"\b" + drop_word + r"\b")
        return ok

    return F.array_join(F.filter(lines, keep), joiner)


def c4_keep(
    text: Column | str,
    min_sentences: int = 3,
    ban_curly_brace: bool = True,
    ban_lorem_ipsum: bool = True,
) -> Column:
    """The C4 document-level predicate: >= 3 sentences (terminal-punct
    runs as the sentence proxy), no '{' (code), no 'lorem ipsum'
    (placeholder boilerplate).  The dirty-word list from the original
    recipe is a deployment-specific denylist and is intentionally NOT
    shipped — pass your own via an extra ``where`` clause."""
    c = _c(text)
    ok = F.regexp_count(c, F.lit(r"[.!?]")) >= min_sentences
    if ban_curly_brace:
        ok = ok & ~c.contains("{")
    if ban_lorem_ipsum:
        ok = ok & ~F.lower(c).contains("lorem ipsum")
    return ok
