"""Text expressions — all native Catalyst expressions (zero Python UDFs).

Everything here stays inside whole-stage codegen: the reference's
row-wise Python helpers (clean_string at reference usnvc/usnvc.py:493-497,
display-title branch at usnvc.py:324-332, nation-code split at
usnvc.py:355-366) are re-expressed as Catalyst expressions, and the
LLM-pipeline text analyzers (token count, language ID, quality score,
fingerprint) follow the same rule so they vectorize on a 100 TB corpus.

The three reference helpers return SQL expression text, not Columns:
the USNVC documents apply a whole stage's projection as one text
(``selectExpr``/``F.expr``), one py4j call where a Column tree costs
several per node. ``ident`` and ``sql_string`` quote names and
literals for such texts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word tokenization regex shared by every text operator (and mirrored in
# the DuckDB oracle SQL): split on any non-alphanumeric run.
TOKEN_SPLIT_RE = "[^a-zA-Z0-9]+"

# The DuckDB-side mirror of ``tokens("text")``, derived from the SAME
# regex so Spark and oracle tokenization can never drift. Plan modules
# import this (conventionally as ``_TOKS_SQL``) instead of keeping
# per-file copies — seven drifting copies was a review finding.
TOKENIZE_SQL = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), t -> t <> '')"
)


# The suite's shared deterministic document classifier: a logistic
# confidence (micro-units) from n_chars alone — the SAME expression
# feeds the whole eval-metric family (q345 ECE, q356 AUC, q358 PR,
# q365 conformal, q366 isotonic, round8's metric tier), so the six
# copies the review found are now one definition per engine side.
DOC_SCORE_SQL = (
    "CAST(round(1000000.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 500.0) / 250.0)))"
    " AS BIGINT)"
)


def doc_score_micro() -> Column:
    """Spark mirror of ``DOC_SCORE_SQL`` (reads column ``n_chars``)."""
    return F.round(
        F.lit(1000000.0)
        / (
            F.lit(1.0)
            + F.exp(-(F.col("n_chars").cast("double") - F.lit(500.0)) / F.lit(250.0))
        )
    ).cast("bigint")


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier.

    Expression texts quote every column they name, so a name with
    spaces or a case-only twin (the USNVC export pins
    ``spark.sql.caseSensitive``) resolves exactly."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal, whatever the escaping setting.

    It parses to ``s`` under either setting of
    ``spark.sql.parser.escapedStringLiterals``: a value holding a quote
    or a backslash is spelled as its UTF-8 bytes."""
    if "'" in s or "\\" in s:
        return f"decode(X'{s.encode('utf-8').hex()}', 'UTF-8')"
    return f"'{s}'"


def clean_string(c: str) -> str:
    """SQL text unescaping the reference's three HTML entities in ``c``.

    Reference parity: usnvc/usnvc.py:493-497 replaces exactly
    ``&amp; &lt; &gt;`` (in that order — ``&amp;lt;`` therefore becomes
    ``<`` after two passes there; chained ``regexp_replace`` reproduces
    the same order-dependent behavior).
    """
    for entity, char in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">")):
        c = f"regexp_replace({c}, '{entity}', '{char}')"
    return c


def display_title(
    hierarchylevel: str,
    classificationcode: str,
    colloquialname: str,
    translatedname: str,
    databasecode: str,
) -> str:
    """SQL text of the three-way CASE that builds a unit display title.

    Reference parity: usnvc/usnvc.py:324-332 (duplicated at 519-527).
    Upper levels: code + colloquialname + level; Macrogroup/Group:
    code + translatedname; else databasecode + translatedname.
    ``concat`` (not concat_ws) matches pandas NaN propagation: any null
    component nulls the title (SURVEY §7.4.2).
    """
    upper = f"concat({classificationcode}, ' ', {colloquialname}, ' ', {hierarchylevel})"
    mid = f"concat({classificationcode}, ' ', {translatedname})"
    low = f"concat({databasecode}, ' ', {translatedname})"
    return (
        f"CASE WHEN {hierarchylevel} IN ('Class', 'Subclass', 'Formation', 'Division') THEN {upper}"
        f" WHEN {hierarchylevel} IN ('Macrogroup', 'Group') THEN {mid} ELSE {low} END"
    )


def split_flagged_codes(c: str) -> str:
    """SQL text splitting a comma list of codes; a trailing ``?`` flags uncertainty.

    Reference parity: usnvc/usnvc.py:355-366 — ``"US, CA?"`` →
    ``[{Abbreviation: US, Uncertainty: false}, {Abbreviation: CA, Uncertainty: true}]``.
    Pure higher-order-function expression; no explode, no UDF. The
    ``?`` pattern is the class ``[?]``, which needs no backslash and so
    reads the same whatever the session's string-literal escaping.
    """
    return (
        f"transform(split({c}, ','), tok -> struct("
        "trim(regexp_replace(tok, '[?]', '')) AS Abbreviation, "
        "endswith(trim(tok), '?') AS Uncertainty))"
    )


def tokens(c: Column | str, lowercase: bool = True) -> Column:
    """Tokenize into non-empty alphanumeric word tokens."""
    c = F.col(c) if isinstance(c, str) else c
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def token_count(c: Column | str) -> Column:
    """Whitespace/punctuation token count (long)."""
    return F.size(tokens(c)).cast("long")


def word_shingles(toks: Column, n: int = 3, sep: str = "_") -> Column:
    """Word n-gram shingles from a token array (for MinHash / Jaccard).

    Built as ``zip_with`` over n shifted ``slice``s of the token array
    rather than per-index ``element_at`` lookups: element_at inside a
    transform lambda re-evaluates the (inline) token expression per
    element — measured 33x slower at sf0.1. Slices evaluate it n times
    per row, and arrays shorter than n yield empty slices (no guard
    needed). Semantics identical to the 1-indexed formulation mirrored
    in the DuckDB oracle SQL.

    The input expression is bound ONCE as a lambda variable
    (``element_at(transform(array(toks), tk -> <shingles of tk>), 1)``)
    before the slices: the n+1 structural references below would
    otherwise each re-evaluate an inline ``tokens(text)`` argument per
    ROW — HOF trees are interpreted (CodegenFallback), so no common-
    subexpression elimination saves the caller. Measured r13: the
    shingle build over inline tokens drops 1.6 s -> 0.6 s at sf0.1
    (byte-identical output, null-in-null-out unchanged: a null token
    array rides through transform/element_at as null).
    """

    def _shingles(tk: Column) -> Column:
        length = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0))
        slices = [F.slice(tk, k + 1, length) for k in range(n)]
        acc = slices[-1]
        for k in range(n - 2, -1, -1):
            acc = F.zip_with(slices[k], acc, lambda a, b: F.concat_ws(sep, a, b))
        return acc

    return F.element_at(F.transform(F.array(toks), _shingles), 1)


def doc_fingerprint(c: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized token stream.

    Normalization (lowercase, collapse non-alphanumerics to single
    spaces) makes the fingerprint robust to whitespace/punctuation noise
    — the exact-dedup key for a 100 TB corpus (hash once, group on the
    16-byte digest, never on the raw text).
    """
    return F.md5(F.concat_ws(" ", tokens(c)))


# Tiny per-language stopword marker sets for the n-gram language-ID
# heuristic. Deterministic and oracle-expressible: score = number of
# marker-token hits; pick argmax with a fixed tie order.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def lang_id(c: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword-marker hits.

    Ties break by fixed language order (en, de, fr, es); zero hits
    everywhere → 'und' (undetermined), mirroring CLD-style outputs.
    """
    toks = tokens(c)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # Reverse order so earlier languages win ties via later when() override.
    for lang in reversed(list(_LANG_MARKERS)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_score_cols(c: Column | str) -> dict[str, Column]:
    """Document quality signals: length, token stats, punct/stopword ratios.

    Returns named columns so callers pick what they need; all are
    single-pass native expressions over the text column.
    """
    c = F.col(c) if isinstance(c, str) else c
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(_LANG_MARKERS["en"])))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": (
            F.when(n_tok > 0, F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast("double") / n_tok)
        ),
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(F.lit(0.0)),
    }


# PII surface (portable Java-regex/RE2 subset so the same patterns run
# in Spark and the DuckDB oracle).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-0[0-9]+\b"


def redact_pii(c: Column | str) -> Column:
    """Replace emails/phone numbers with typed placeholder tags.

    Chained native regexp_replace — stays inside whole-stage codegen
    (no Python in the loop), which is the redaction hot path for a
    100 TB corpus scrub.
    """
    c = F.col(c) if isinstance(c, str) else c
    out = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(out, PHONE_RE, "[PHONE]")
