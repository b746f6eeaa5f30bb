"""Text-analysis operators for a training-data pipeline — all JVM-side SQL
expressions (no UDFs), built as SQL text (see sqltext): language-ID
heuristic, quality scoring, token counting, document fingerprinting. Each is
a narrow projection + at most one aggregation, so they pushdown/prune cleanly
and scale linearly.

Column contract: documents are (doc_id, text); every operator reads those
names and takes no column-name parameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sqltext import let, strings, word_shingles

# tiny built-in stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "que", "pour", "dans"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "con", "non", "del"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para"],
    "nl": ["de", "het", "een", "van", "en", "dat", "is", "op", "te", "niet"],
}

# signature character trigrams per language — the fallback signal when
# stopwords are silent or tied (short texts, agglutinated prose, no-space CJK
# is out of scope). Overlap across languages is fine; counts differ.
TRIGRAMS = {
    "en": ["the", "he ", " th", "ing", "and", "ion", " of", "ed ", "tio", " to"],
    "es": [" de", "de ", "os ", " la", "la ", "ión", "ció", " es", "ar ", " qu"],
    "de": ["en ", "er ", "ch ", "sch", "ein", "ich", "der", "und", "ie ", " ge"],
    "fr": [" de", "es ", "de ", " le", "le ", "ent", " qu", "que", "les", "ais"],
    "it": [" di", "di ", "to ", " ch", "che", "zio", "no ", "re ", " co", "ell"],
    "pt": [" de", "de ", "ão ", "ção", " da", "da ", "em ", " em", "os ", " co"],
    "nl": ["en ", " de", "de ", "et ", "een", " ee", "van", " va", "aar", "ij "],
}


#: SQL: the lowercased whitespace tokens of `text`
_TOKENS = "split(trim(lower(text)), ' +')"


def _hits(arr: str, words) -> str:
    """SQL: how many elements of the array `arr` are in `words`."""
    return f"size(filter({arr}, t -> array_contains({strings(words)}, t)))"


def _ranked_langs(arr: str, table: dict) -> str:
    """SQL: one (neg_hits, lang, hits) struct per language of `table`, hits
    counted over `arr`, sorted ascending: a struct sorts field-by-field, so
    the first is the argmax with language-code tiebreak."""
    structs = []
    for lang in sorted(table):
        h = _hits(arr, table[lang])
        structs.append(f"named_struct('neg_hits', -{h}, 'lang', '{lang}', 'hits', {h})")
    return f"array_sort(array({', '.join(structs)}))"


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (regex split on
    non-alnum boundaries and 4-char chunks — a cheap proxy for BPE length)."""
    # token array bound once per row (multi-referenced non-cheap alias stays
    # un-inlined): higher-order functions are interpreted, so every extra
    # reference would re-run the split
    staged = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("_nchars"),
        F.expr(_TOKENS).alias("_toks"),
    )
    # BPE-ish: every token contributes ceil(len/4) subword units
    return staged.selectExpr(
        "doc_id",
        "CAST(size(_toks) AS BIGINT) AS n_tokens",
        "aggregate(_toks, CAST(0 AS BIGINT), "
        "(acc, t) -> acc + CAST(ceil(length(t) / 4.0D) AS BIGINT)) AS n_subwords",
        "_nchars AS n_chars_measured",
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Two-stage language heuristic, all codegen expressions.

    Stage 1: argmax language by stopword hits (tie-break: language code
    ascending). Stage 2 (fallback, fires when stage 1 is silent — zero hits —
    or tied between the top two): argmax by signature character-trigram
    occurrences over the lowercased text. Emits which stage decided.
    """
    # Staged projections (r06): higher-order functions are interpreted with
    # no subexpression elimination, so the old single-select form re-built
    # the trigram array per filter (7×). The token and trigram arrays are now
    # computed once per row as multi-referenced (hence un-collapsed) aliases,
    # and the lowercased text the trigrams slice is let-bound.
    tris = let(
        "s", "lower(trim(text))",
        "transform(sequence(1, greatest(length(s) - 2, 1)), i -> substr(s, i, 3))",
    )
    scored = docs.select(
        "doc_id", F.expr(_TOKENS).alias("_toks"), F.expr(tris).alias("_tris")
    ).selectExpr(
        "doc_id",
        f"{_ranked_langs('_toks', STOPWORDS)} AS _sw",
        f"element_at({_ranked_langs('_tris', TRIGRAMS)}, 1) AS _tri",
    )
    best, second = "element_at(_sw, 1)", "element_at(_sw, 2)"
    ambiguous = f"({best}.hits = 0 OR {best}.hits = {second}.hits)"
    return scored.selectExpr(
        "doc_id",
        f"CASE WHEN {ambiguous} THEN _tri.lang ELSE {best}.lang END AS detected_lang",
        f"{best}.hits AS stopword_hits",
        f"CASE WHEN {ambiguous} THEN _tri.hits ELSE 0 END AS trigram_hits",
        f"{ambiguous} AS used_trigram_fallback",
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score: length, mean word
    length, punctuation ratio, stopword ratio, repetition (distinct/total
    token ratio). All ratios rounded to 6 dp for determinism."""
    # token array bound once per row (see language_id): the old form re-split
    # the text for each of the four token-derived features
    staged = docs.select(
        "doc_id", F.col("text").alias("_t"), F.expr(_TOKENS).alias("_toks")
    )
    n_tok, n_chars = "size(_toks)", "length(_t)"
    punct = "length(regexp_replace(_t, '[^.,;:!?]', ''))"
    stop_hits = _hits("_toks", STOPWORDS["en"])
    distinct_ratio = f"(size(array_distinct(_toks)) / greatest({n_tok}, 1))"
    return staged.selectExpr(
        "doc_id",
        f"CAST({n_chars} AS BIGINT) AS n_chars_measured",
        f"CAST({n_tok} AS BIGINT) AS n_tokens",
        f"round({n_chars} / greatest({n_tok}, 1), 6) AS mean_word_len",
        f"round({punct} / greatest({n_chars}, 1), 6) AS punct_ratio",
        f"round({stop_hits} / greatest({n_tok}, 1), 6) AS stopword_ratio",
        f"round({distinct_ratio}, 6) AS distinct_token_ratio",
        f"round(least({n_tok} / 100.0D, 1.0D) * {distinct_ratio}, 6) AS quality",
    )


PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
PII_URL_RE = "https?://[^ ]+"


def redact_pii(docs: DataFrame) -> DataFrame:
    """Training-data scrubbing: mask emails, URLs and phone-like sequences.

    Pure regexp_replace chain (JVM-side); order matters — URLs first so their
    digit runs aren't half-eaten by the phone pattern.
    """
    t = F.regexp_replace("text", PII_URL_RE, "<URL>")
    t = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        t.alias("redacted"),
        (F.length("text") - F.length(t)).cast("long").alias("chars_redacted"),
    )


def fingerprint(docs: DataFrame, shingle_n: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over word n-gram shingles
    (a winnowing-style content fingerprint, stable under whitespace changes
    and portable to the DuckDB oracle)."""
    fp = let(
        "toks", _TOKENS,
        f"array_min(transform({word_shingles('toks', shingle_n)}, s -> md5(s)))",
    )
    return docs.select("doc_id", F.expr(fp).alias("fingerprint"))
