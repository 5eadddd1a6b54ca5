"""Text analysis operators for training-data pipelines.

All expressions are native ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd — no Python in the hot path) and every operator
has an exact DuckDB-SQL mirror for the oracle check. Operates on the
``documents`` table shape (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------- tokens

# Whitespace spelled out as an explicit class instead of \s: Java regex
# (Spark) defines \s as [ \t\n\x0B\f\r], but RE2 (DuckDB's engine)
# EXCLUDES \x0B — a vertical-tab-bearing document would tokenize
# differently between an operator and its oracle, and between Spark and
# any RE2-based consumer at 100 TB. (Python re is different again: on
# str its \s is full UNICODE whitespace — NBSP, U+2028, … — so never
# substitute a Python-re \s for this class either; see
# functions/text.py for the one place that breadth is deliberate.)
# Both engines interpret the hex/control escapes in a class
# identically, so the explicit class pins one semantics everywhere
# (r5 batch review).
WS_CHARS = r" \t\n\x0B\f\r"
WS_RE = rf"[{WS_CHARS}]"
NWS_RE = rf"[^{WS_CHARS}]"

# Bump when tokenization/normalization semantics change. Every
# persisted artifact derived from this module's text semantics records
# a version and forces a full rebuild on mismatch (an incremental
# refresh would mix rows computed under two tokenizers): the token-
# count rollup (jobs/rollup_job.py) stamps this constant directly; the
# dedup band index (jobs/dedup_index_job.py) stamps
# dedupe_docs.SIGNATURE_VERSION, which folds this constant together
# with hashing.HASH_FAMILY_VERSION. A --refresh across a mismatch would
# break refresh == rebuild: a rollup would recompute only dirty cells
# under the new tokenizer while untouched cells keep old counts, and a
# band index would union rows hashed under the new family next to stale
# rows, so identical text stops colliding and near-dup pairs are lost.
TOKENIZER_VERSION = 2


def _ws_stripped(col: Column) -> Column:
    """``col`` with ALL leading/trailing whitespace removed (null → '').

    ``trim()`` strips only 0x20 spaces, so a tab/newline-bordered text
    used to leak empty-string tokens into the split ('\\thello' counted
    2 tokens, a lone '\\n' counted 2) — phantom tokens that inflated
    quality gates and pack_sequences offsets (r5 operator review)."""
    return F.regexp_replace(
        F.coalesce(col, F.lit("")), rf"^{WS_RE}+|{WS_RE}+$", ""
    )


def token_array(col: Column) -> Column:
    """Whitespace-token array (empty for empty/blank/null) — the ONE
    tokenization every token-consuming operator shares (token_count,
    repetition metrics), so a boundary-handling fix cannot silently
    diverge between them."""
    t = _ws_stripped(col)
    return F.when(F.length(t) == 0, F.expr("array()")).otherwise(
        F.split(t, rf"{WS_RE}+")
    )


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank/null)."""
    return F.size(token_array(col))


def sql_token_array(expr: str) -> str:
    """DuckDB mirror of :func:`token_array` over a string SQL ``expr``
    (which must already be null-coalesced)."""
    s = f"regexp_replace({expr}, '^{WS_RE}+|{WS_RE}+$', '', 'g')"
    return (
        f"CASE WHEN length({s}) = 0 THEN [] "
        f"ELSE string_split_regex({s}, '{WS_RE}+') END"
    )


def sql_token_count(expr: str) -> str:
    """DuckDB mirror of :func:`token_count` over a string SQL ``expr``."""
    return f"len({sql_token_array(expr)})"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries (a cheap BPE proxy — counts pieces a
    byte-pair tokenizer would not merge across)."""
    t = F.coalesce(col, F.lit(""))
    # insert breaks between character classes, then count pieces. The
    # alternation covers digit->non-digit, letter->digit (the r4-review
    # asymmetry: 'abc123' must split like '123abc'), and punctuation;
    # no lookahead so the DuckDB (RE2) oracle can mirror it exactly.
    marked = F.regexp_replace(
        t,
        rf"([0-9])([^0-9{WS_CHARS}])|([a-zA-Z])([0-9])|([^{WS_CHARS}0-9a-zA-Z])",
        r"$1$3$5 $2$4",
    )
    return token_count(marked)


# --------------------------------------------------------------- quality

def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """The quality metrics as named Columns (pure column algebra) — so
    callers can fold them into an existing projection without a join
    (one scan instead of scan+join at 100 TB). ``with_quality`` is the
    DataFrame-level wrapper."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_tokens = token_count(t)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")

    n_punct = n_chars - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    # space-padded like the language scorer's marker matching: without
    # the pad, a stopword at the document's first or last position never
    # matches ' w ' and short docs scored as stopword-free (r5 operator
    # review — the lang scorer had the pad, this one didn't)
    lower = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    n_stop = F.lit(0)
    for w in ("the", "and", "of", "to", "in"):
        pat = f" {w} "
        n_stop = n_stop + (
            (F.length(lower) - F.length(F.replace(lower, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("int")

    punct_ratio = (n_punct / safe_chars).alias("punct_ratio")
    upper_ratio = (n_upper / safe_chars).alias("upper_ratio")
    digit_ratio = (n_digit / safe_chars).alias("digit_ratio")
    stop_ratio = (n_stop / safe_tokens).alias("stopword_ratio")
    mean_tok_len = (safe_chars / safe_tokens).alias("mean_token_len")

    score = (
        F.lit(1.0)
        - F.least(F.lit(1.0), n_punct / safe_chars * 4)* F.lit(0.25)
        - F.least(F.lit(1.0), n_digit / safe_chars * 4) * F.lit(0.25)
        - F.least(F.lit(1.0), n_upper / safe_chars * 4) * F.lit(0.25)
        - F.when(n_tokens < 5, F.lit(0.25)).otherwise(F.lit(0.0))
    )

    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "upper_ratio": upper_ratio,
        "digit_ratio": digit_ratio,
        "stopword_ratio": stop_ratio,
        "mean_token_len": mean_tok_len,
        "quality_score": score,
    }


def with_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-score a corpus: length, token stats, punctuation /
    uppercase / digit / stopword ratios, and a composite [0,1] score.
    Mirrors the heuristics of public corpus-cleaning pipelines
    (C4/Gopher-style rules), expressed as pure column algebra."""
    cols = quality_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


QUALITY_ORACLE_SQL = rf"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         concat(' ', lower(coalesce(text, '')), ' ') AS lo
  FROM documents
), m AS (
  SELECT doc_id, t,
    length(t) AS n_chars_m,
    {sql_token_count("t")} AS n_tokens,
    length(t) - length(regexp_replace(t, '[!-/:-@\[-`{{-~]', '', 'g')) AS n_punct,
    length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS n_upper,
    length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
    CAST((length(lo) - length(replace(lo, ' the ', ''))) / 5 AS INT)
      + CAST((length(lo) - length(replace(lo, ' and ', ''))) / 5 AS INT)
      + CAST((length(lo) - length(replace(lo, ' of ', ''))) / 4 AS INT)
      + CAST((length(lo) - length(replace(lo, ' to ', ''))) / 4 AS INT)
      + CAST((length(lo) - length(replace(lo, ' in ', ''))) / 4 AS INT)
      AS n_stop
  FROM base
)
SELECT doc_id, n_chars_m, n_tokens,
  n_punct / greatest(n_chars_m, 1) AS punct_ratio,
  n_upper / greatest(n_chars_m, 1) AS upper_ratio,
  n_digit / greatest(n_chars_m, 1) AS digit_ratio,
  n_stop / greatest(n_tokens, 1) AS stopword_ratio,
  greatest(n_chars_m, 1) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS mean_token_len,
  1.0 - least(1.0, n_punct / greatest(n_chars_m, 1) * 4) * 0.25
      - least(1.0, n_digit / greatest(n_chars_m, 1) * 4) * 0.25
      - least(1.0, n_upper / greatest(n_chars_m, 1) * 4) * 0.25
      - CASE WHEN n_tokens < 5 THEN 0.25 ELSE 0.0 END AS quality_score
FROM m
"""


# --------------------------------------------------------------- lang id

LANG_MARKERS = {
    "en": [" the ", " and ", " is "],
    "es": [" el ", " la ", " que ", " los "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " les ", " est ", " une "],
}


def _marker_score(lower: Column, markers: list[str]) -> Column:
    s = F.lit(0)
    for m_ in markers:
        s = s + (
            (F.length(lower) - F.length(F.replace(lower, F.lit(m_), F.lit(""))))
            / F.lit(len(m_))
        ).cast("int")
    return s


def lang_pred_column(text_col: str = "text") -> Column:
    """The predicted-language Column alone (for join-free composition
    into an existing projection). Delegates to :func:`lang_id_columns`
    — ONE argmax implementation, or a marker/tie-break change applied
    to one copy would classify the same document differently across
    consumers (r5 operator review)."""
    return lang_id_columns(text_col)["lang_pred"]


def lang_id_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-language marker scores + the argmax prediction as named
    Columns (join-free composition, same contract as
    ``quality_columns``). The argmax reuses the SAME score expressions
    emitted as columns — rebuilding the marker replace/length trees a
    second time in the projection was an r4-review finding."""
    lower = F.concat(F.lit(" "), F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(" "))
    scores = {lang: _marker_score(lower, ms) for lang, ms in LANG_MARKERS.items()}
    structs = [
        F.struct(
            scores[lang].alias("s"),
            F.lit(-i).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_MARKERS)
    ]
    best = F.greatest(*structs)
    out: dict[str, Column] = {
        f"score_{lang}": scores[lang] for lang in LANG_MARKERS
    }
    out["lang_pred"] = F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))
    return out


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-n-gram language ID over {en,es,de,fr} ('und' when no
    marker hits). Greatest-score wins; ties break by language order via
    a structured argmax (greatest over (score, rank) structs)."""
    cols = lang_id_columns(text_col)
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


def lang_id_oracle_sql() -> str:
    score_exprs, cols = [], []
    for lang, ms in LANG_MARKERS.items():
        parts = [
            f"CAST((length(lo) - length(replace(lo, '{m_}', ''))) / {len(m_)} AS INT)"
            for m_ in ms
        ]
        score_exprs.append(f"({' + '.join(parts)}) AS score_{lang}")
        cols.append(f"score_{lang}")
    langs = list(LANG_MARKERS)
    # argmax with first-listed-language tie-break
    cmp = f"GREATEST({', '.join(cols)})"
    pick = "CASE "
    for lang in langs:
        pick += f"WHEN score_{lang} = {cmp} THEN '{lang}' "
    pick += "END"
    return f"""
WITH base AS (
  SELECT doc_id, concat(' ', lower(coalesce(text, '')), ' ') AS lo FROM documents
), s AS (
  SELECT doc_id, {', '.join(score_exprs)} FROM base
)
SELECT doc_id, {', '.join(cols)},
  CASE WHEN {cmp} > 0 THEN {pick} ELSE 'und' END AS lang_pred
FROM s
"""


# ----------------------------------------------------------- fingerprint

def normalized_text(text_col: str = "text") -> Column:
    """The fingerprint normalization (whitespace-collapsed, trimmed,
    lowercased) as ONE shared expression — fingerprint_column and
    with_fingerprint's norm_len both derive from it, so an edit to the
    normalization cannot leave them computed on different text (r5
    operator review; ``trim`` alone is sufficient here because the
    collapse already turned every edge whitespace run into a space).
    :func:`sql_normalized_text` is the DuckDB mirror."""
    return F.lower(
        F.trim(
            F.regexp_replace(
                F.coalesce(F.col(text_col), F.lit("")), rf"{WS_RE}+", " "
            )
        )
    )


def sql_normalized_text(expr: str = "coalesce(text, '')") -> str:
    """DuckDB mirror of :func:`normalized_text` over a string SQL
    ``expr`` (which must already be null-coalesced) — ONE copy instead
    of the six the oracle suite used to inline."""
    return f"lower(trim(regexp_replace({expr}, '{WS_RE}+', ' ', 'g')))"


def fingerprint_column(text_col: str = "text") -> Column:
    """The fingerprint expression alone (join-free composition)."""
    return F.md5(normalized_text(text_col))


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text
    — the exact-dedup key (rolling-hash-equivalent at document scope).
    Both columns derive from :func:`normalized_text` — ONE
    implementation, or the exact-dedup key could silently diverge
    between consumers (r5 review)."""
    return docs.select(
        "doc_id",
        fingerprint_column(text_col).alias("fingerprint"),
        F.length(normalized_text(text_col)).alias("norm_len"),
    )


FINGERPRINT_ORACLE_SQL = f"""
SELECT doc_id,
  md5({sql_normalized_text()}) AS fingerprint,
  length({sql_normalized_text()}) AS norm_len
FROM documents
"""
