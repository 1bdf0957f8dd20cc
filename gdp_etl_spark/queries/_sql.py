"""DuckDB SQL fragments shared by the oracles of several query families."""

from __future__ import annotations

from gdp_etl_spark.functions.text import LANG_MARKERS, STOPWORDS
# PUNCT_CLASS imported, not re-spelled: Java/RE2/Python \s drift
# on \x0B and Unicode whitespace (review finding, round 13)
from gdp_etl_spark.functions.text import PUNCT_CLASS as _PCLS


#: whitespace tokens of raw / lowered text — mirrors functions.text.ws_tokens
_TOKS_RAW = "string_split_regex(trim(text), '\\s+')"
_TOKS_LOW = "string_split_regex(lower(trim(text)), '\\s+')"


def _shingles_sql(k: int = 5) -> str:
    """Mirror of functions.text.shingles: distinct k-token grams of the
    lowered text; <k-token docs contribute the whole text as one gram."""
    t = _TOKS_LOW
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({t}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(({t})[i:i+{k - 1}], ' ')))"
    )


def _ngrams_raw_sql(n: int) -> str:
    """Mirror of functions.text.word_ngrams: ALL n-grams, duplicates
    kept (unlike the distinct ``_shingles_sql``)."""
    t = _TOKS_LOW
    return (
        f"list_transform("
        f"range(1, greatest(len({t}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(({t})[i:i+{n - 1}], ' '))"
    )


_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(28,6))) AS DOUBLE)"


def _dsum_sql(x: str) -> str:
    return _DSUM.format(x=x)


def _sql_list(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


def _sql_str(s):
    """Render a Python string as a DuckDB expression: printable-ASCII
    runs as quoted literals, everything else as chr(codepoint) — no
    escape-dialect assumptions at all."""
    if s is None:
        return "CAST(NULL AS VARCHAR)"
    parts, run = [], []

    def flush():
        if run:
            parts.append("'" + "".join(run).replace("'", "''") + "'")
            run.clear()

    for ch in s:
        if 0x20 <= ord(ch) < 0x7F:
            run.append(ch)
        else:
            flush()
            parts.append(f"chr({ord(ch)})")
    flush()
    return " || ".join(parts) if parts else "''"


# shingle and n-gram lists, language ID, the quality score and the
# PII scrub of the ``text`` column, as DuckDB expressions
sh = _shingles_sql(5)
sh8 = _shingles_sql(8)
g2 = _ngrams_raw_sql(2)
g3 = _ngrams_raw_sql(3)
sw_list = _sql_list(STOPWORDS)
lang_score = {
    lang: f"len(list_filter({_TOKS_LOW}, t -> list_contains({_sql_list(m)}, t)))"
    for lang, m in sorted(LANG_MARKERS.items())
}
best = "greatest(" + ", ".join(lang_score[k] for k in sorted(lang_score)) + ")"
lang_case = (
    "CASE WHEN " + best + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN {lang_score[k]} = {best} THEN '{k}'" for k in sorted(lang_score)
    )
    + " ELSE 'und' END"
)

pr = (
    "CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 "
    f"ELSE CAST(len(regexp_extract_all(text, '{_PCLS}')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) END"
)
swr = (
    f"CASE WHEN len({_TOKS_RAW}) = 0 THEN 0.0 "
    f"ELSE CAST(len(list_filter({_TOKS_RAW}, t -> list_contains({sw_list}, t))) AS DOUBLE)"
    f" / CAST(len({_TOKS_RAW}) AS DOUBLE) END"
)
mtl = (
    f"CASE WHEN len({_TOKS_RAW}) = 0 THEN 0.0 "
    f"ELSE CAST(list_sum(list_transform({_TOKS_RAW}, t -> length(t))) AS DOUBLE)"
    f" / CAST(len({_TOKS_RAW}) AS DOUBLE) END"
)
n_tok_d = f"CAST(len({_TOKS_RAW}) AS DOUBLE)"
quality = (
    f"(least({n_tok_d} / 50.0, 1.0) * 0.4"
    f" + greatest(0.0, 1.0 - ({pr}) * 4.0) * 0.2"
    f" + (CASE WHEN ({swr}) >= 0.01 AND ({swr}) <= 0.6 THEN 1.0 ELSE 0.5 END) * 0.2"
    f" + (CASE WHEN ({mtl}) >= 2.0 AND ({mtl}) <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2)"
)
jaccard = (
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)"
)
# mirror of functions.text.redact_pii applied to the `text` column
# (plain string: the regexes contain literal braces)
_pii_red_text = (
    r"regexp_replace(regexp_replace(regexp_replace(text,"
    r" 'https?://[^\s]+', '<URL>', 'g'),"
    r" '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    r" '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g')"
)
