"""Text column expressions: normalization, tokenization, n-grams,
numeric cleaning, slugs, quality features.

Reference analogs: whitespace collapse (`perustats/BCRP/metadata.py:49-53`),
thousands-comma numeric cleaning (`perustats/MEF/utils/tables.py:59-66`),
slugify (`perustats/inei/utils/file_utils.py`). All JVM-side expressions —
no Python UDFs — so they stay inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"[A-Za-z0-9_']+"

# Tiny built-in stopword lists for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur"],
}


def let(expr: Column, body) -> Column:
    """Bind *expr* to a lambda variable so *body* can reference it many
    times while it is evaluated ONCE per row.

    Catalyst evaluates each subtree reference independently: an expression
    like ``transform(seq, i -> element_at(tokens(text), i))`` recomputes
    the full tokenization per element (O(len²) per row). Wrapping as
    ``element_at(transform(array(tokens(text)), t -> ...), 1)`` turns
    the expensive subtree into a bound lambda variable — an array read.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def normalize(col: Column) -> Column:
    """Lowercase + collapse whitespace + trim (reference `_clean_text`)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _accent_table() -> tuple[str, str]:
    # Latin-1 Supplement .. Latin Extended-B chars whose NFD form strips
    # to one ASCII-range char (á→a, ñ→n, Ç→C, ...): exactly DuckDB's
    # strip_accents result on that repertoire, precomputed so the Spark
    # side is a single JVM translate(), not a Python UDF
    import unicodedata

    src, dst = [], []
    for cp in range(0xC0, 0x250):
        c = chr(cp)
        stripped = "".join(
            x for x in unicodedata.normalize("NFD", c)
            if unicodedata.category(x) != "Mn"
        )
        if stripped != c and len(stripped) == 1:
            src.append(c)
            dst.append(stripped)
    return "".join(src), "".join(dst)


_ACCENT_SRC, _ACCENT_DST = _accent_table()


def strip_accents(col: Column) -> Column:
    """Remove diacritics (á→a, ñ→n) — reference ``strip_accents``
    (perustats/infogob/11_locations_refs.py:45-48) does NFD + drop
    combining marks. Here: one ``translate`` over the precomposed Latin
    repertoire plus a regexp sweep of already-decomposed combining
    marks, both JVM-side expressions inside codegen."""
    return F.regexp_replace(
        F.translate(col, _ACCENT_SRC, _ACCENT_DST), r"[̀-ͯ]", ""
    )


def clean_text_es(col: Column) -> Column:
    """Spanish-corpus canonical form — reference ``clean_text``
    (perustats/infogob/11_locations_refs.py:51-63): strip accents,
    uppercase, non-alphanumerics → space, collapse runs, trim."""
    s = F.upper(strip_accents(col))
    s = F.regexp_replace(s, r"[^A-Z0-9]+", " ")
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def clean_numeric(col: Column) -> Column:
    """``'3,400,841.50'`` → 3400841.50, ``'-5.2%'`` → -5.2;
    non-numeric → NULL.

    Mirrors the MEF HTML-table numeric cleaning
    (perustats/MEF/utils/tables.py:59-66) plus the infogob percent/sign
    forms (perustats/infogob/utils.py:1-16 ``to_float``/``to_int``):
    strip thousands commas and a trailing '%', cast. Like the
    reference's ``float("5.2%"[:-1])`` the percentage keeps its face
    value (no /100).
    """
    stripped = F.replace(
        F.replace(col, F.lit(","), F.lit("")), F.lit("%"), F.lit(""))
    # try_cast, not cast: a comma-only string (",,") passes the regex
    # but strips to "" — ANSI cast would fail the job; the reference
    # swallows the ValueError (found by hypothesis)
    return F.when(
        F.regexp_like(F.trim(col), F.lit(r"^-?[\d,]+\.?\d*%?$")),
        stripped.try_cast("double"),
    )


def slugify(col: Column) -> Column:
    """Lowercase, non-alphanumeric runs → '-', trimmed of '-'."""
    s = F.lower(F.trim(col))
    s = F.regexp_replace(s, r"[^a-z0-9]+", "-")
    return F.regexp_replace(s, r"(^-+|-+$)", "")


def tokens(col: Column) -> Column:
    """Array of word tokens (alnum/underscore/apostrophe runs).

    One ``regexp_extract_all`` pass matching the token class directly —
    measured ~10× faster than the equivalent
    split-on-complement + drop-empties (one regex scan, no empty-string
    churn, no second array pass), and bit-identical on the full test
    corpus including empty/whitespace/punct-only/NULL rows. The DuckDB
    oracles keep the split formulation; parity holds because the two
    are semantically equal."""
    return F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9_']+"), 0)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_ngrams(col: Column, n: int) -> Column:
    """Array of character n-grams of the normalized string.

    Built with sequence+transform (JVM-side); used for shingling in
    MinHash / Jaccard dedup. The normalized string is let-bound so it
    is computed once per row, not once per n-gram position.
    """
    def body(s):
        starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(s) - F.lit(n - 1)))
        return F.transform(starts, lambda i: F.substring(s, i, n))

    return let(normalize(col), body)


def word_ngrams(col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) from the token array.

    The token array is let-bound: element_at against a lambda variable
    is an array read, while element_at against the raw tokenize
    expression would re-tokenize per position (O(len²) per row)."""
    def body(toks):
        cnt = F.size(toks)
        starts = F.sequence(F.lit(0), F.greatest(F.lit(0), cnt - F.lit(n)))
        grams = F.transform(
            starts,
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, (i + F.lit(j + 1)).cast("int")) for j in range(n)],
            ),
        )
        return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))

    return let(tokens(col), body)


def punct_ratio(col: Column) -> Column:
    no_punct = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(no_punct)) / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col: Column) -> Column:
    no_digit = F.regexp_replace(col, r"[0-9]", "")
    return (F.length(col) - F.length(no_digit)) / F.greatest(F.length(col), F.lit(1))
