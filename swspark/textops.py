"""Web-text analysis operators over a documents table
(doc_id, text, lang, source, n_chars) — the training-data-pipeline
layer a 100 TB crawl feeds (engine-introduced; the reference stops at
extraction).

All ops are pure built-in column expressions (JVM codegen, no Python)
unless noted — each returns a Column so it composes into any select,
and each has an ANSI-SQL twin for the DuckDB oracle
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# small language-marker sets for the stopword-vote language ID
# (SQL-expressible twin of the n-gram model below)
EN_STOPWORDS = ("the", "and", "of", "to", "is", "in", "that", "it", "for", "was")
FR_STOPWORDS = ("le", "la", "les", "et", "de", "des", "un", "une", "est", "que")

_WORD_RE = r"[a-z0-9]+"
# BPE-ish tokenizer: words, numbers, or single punctuation marks
BPE_ISH_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words(text: Column) -> Column:
    """Lowercased word array (the shared tokenization base)."""
    return F.regexp_extract_all(F.lower(text), F.lit(_WORD_RE), F.lit(0))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), r"\s+")) - F.when(
        F.trim(text) == "", F.lit(1)
    ).otherwise(F.lit(0))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (words / numbers / punct marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[^\w\s]", "")
    )
    return n_punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, stopwords=EN_STOPWORDS) -> Column:
    w = words(text)
    hits = F.size(
        F.filter(w, lambda x: x.isin(*stopwords))
    )
    return hits / F.greatest(F.size(w), F.lit(1))


def mean_word_len(text: Column) -> Column:
    w = words(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(w), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: length sweet spot,
    moderate punctuation, healthy stopword density, sane word length.
    Deterministic, fully built-in — matches the common C4/Gopher-style
    rule-of-thumb filters."""
    n = F.length(text)
    length_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    mwl = mean_word_len(text)
    wordlen_score = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(
        (length_score + punct_score + stop_score + wordlen_score) / 4, 6
    )


def lang_id_stopwords(text: Column) -> Column:
    """Stopword-vote language ID (en/fr/unknown) — the SQL-expressible
    variant used for the oracle-checked query."""
    w = words(text)
    en = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    fr = F.size(F.filter(w, lambda x: x.isin(*FR_STOPWORDS)))
    return (
        F.when((en == 0) & (fr == 0), F.lit("unknown"))
        .when(en >= fr, F.lit("en"))
        .otherwise(F.lit("fr"))
    )


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the word-normalized text (md5 so
    the DuckDB oracle can reproduce it byte-for-byte)."""
    normalized = F.array_join(words(text), " ")
    return F.md5(normalized)


# --- n-gram language ID (the "real" model: char-trigram profiles,
# vectorized pandas UDF; rows-only oracle) ----------------------------

_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", " to", "to ", "ion", " in", "ed ", "er ", " is", "is "),
    "fr": (" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion",
           " et", "et ", " un", "ne ", "que", " qu", "ait", " pa", "re "),
}


def make_lang_id_udf():
    profiles = {k: frozenset(v) for k, v in _PROFILES.items()}

    @F.pandas_udf("string")
    def lang_id(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not t:
                out.append("unknown")
                continue
            s = " " + t.lower() + " "
            grams = {s[i : i + 3] for i in range(len(s) - 2)}
            best, best_score = "unknown", 0
            for lang, prof in profiles.items():
                score = len(grams & prof)
                if score > best_score:
                    best, best_score = lang, score
            out.append(best if best_score >= 3 else "unknown")
        return pd.Series(out)

    return lang_id
