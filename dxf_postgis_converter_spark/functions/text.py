"""Text-analysis functions for training-data pipelines (task brief §text):
language-ID, quality scoring, token counting, document fingerprinting.

All four are pure column expressions (JVM, codegen, SQL-oracle-parity) —
no Python in the hot path. They run over the driver `documents` table
(doc_id, text, lang, source, n_chars) and over corpus text spans alike.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(text: Column) -> Column:
    """Whitespace tokenization; empty/blank → 0."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_token_count(text: Column) -> Column:
    """BPE-ish: count word-or-punctuation units (letters+digits runs or
    single non-space symbols)."""
    units = F.regexp_extract_all(text, F.lit(r"[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"), 0)
    return F.size(units)


def cyrillic_chars(text: Column) -> Column:
    return F.length(F.regexp_replace(text, "[^а-яА-ЯёЁ]", ""))


def latin_chars(text: Column) -> Column:
    return F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))


def lang_id(text: Column) -> Column:
    """n-gram-free heuristic language ID: script-dominance with an 'und'
    fallback for scriptless text. Deterministic and SQL-expressible."""
    cyr = cyrillic_chars(text)
    lat = latin_chars(text)
    return (
        F.when((cyr == 0) & (lat == 0), F.lit("und"))
        .when(cyr > lat, F.lit("ru"))
        .otherwise(F.lit("en"))
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + low punct + word-ish tokens.
    Weights are arbitrary but fixed; documented for the oracle."""
    n = F.length(text)
    len_score = F.when(n < 10, n / 10.0).when(n > 5000, F.lit(0.2)).otherwise(F.lit(1.0))
    mean_tok_len = F.when(token_count(text) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(text, r"\s+", "")) / token_count(text))
    tok_score = F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    p_score = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(text) * 4)
    return F.round(0.4 * len_score + 0.3 * tok_score + 0.3 * p_score, 6)


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lower, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint = md5 of normalized text (md5 exists in both
    Spark and DuckDB → value-level oracle parity)."""
    return F.md5(normalize_text(text))


# PII scrub (training-data cleaning): patterns restricted to syntax that
# behaves identically in Java regex (Spark) and RE2 (DuckDB) so every
# redaction is SQL-oracle-checkable — no lookarounds, no backrefs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{4,10}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def dup_word_fraction(text: Column) -> Column:
    """Repetition signal (the MassiveText/Gopher "fraction of duplicate
    words" quality rule): 1 - distinct_words / total_words. Pure array
    algebra — split, array_distinct, size — so the per-doc value is
    bit-reproducible against a SQL oracle (list_distinct in DuckDB)."""
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(words)) * F.lit(1.0) / n)


def redact_pii(text: Column) -> Column:
    """Replace email / international-phone / IPv4 literals with typed
    placeholder tokens — pure chained regexp_replace, JVM-side, global
    per pattern. The canonical pre-training scrub pass."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def has_pii(text: Column) -> Column:
    """True when any PII pattern matches (rlike disjunction)."""
    return text.rlike("|".join(p for _, p, _ in PII_PATTERNS))


def dxf_unicode_unescape(text: Column) -> Column:
    """DXF ``\\U+XXXX`` escape → the Unicode character (F5; legacy plugin
    fnc4ADXF2Shape.py:60-74 decodes the same escapes before shapefile
    export). Implemented as a single JVM regexp_replace via the \\uXXXX
    string-literal trick is impossible (codepoint is data, not literal),
    so this uses one vectorized pandas pass — cold path only (labels)."""
    import re

    from pyspark.sql.functions import pandas_udf

    pat = re.compile(r"\\U\+([0-9A-Fa-f]{4})")

    @pandas_udf("string")
    def _unescape(s: pd.Series) -> pd.Series:
        return s.str.replace(pat, lambda m: chr(int(m.group(1), 16)), regex=True)

    return _unescape(text)


def winnowing_fingerprints(docs, id_col: str = "doc_id", text_col: str = "text",
                           k: int = 5, window: int = 4):
    """Rolling-hash document fingerprints (task brief "document
    fingerprinting (rolling hash)"): Rabin-Karp k-gram rolling hashes +
    winnowing — keep the minimum hash of every `window` consecutive
    hashes (Schleimer/Wilkerson/Aiken's MOSS scheme). Output
    (id, fingerprints array<bigint>) — a compact, position-robust
    signature set; shared fingerprints locate near-identical passages.

    numpy-vectorized per Arrow batch: the rolling hash is a sliding-window
    polynomial evaluated for all positions at once, the winnow a
    stride-tricks min."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    B = np.uint64(1099511628211)
    MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

    def fp_one(text: str) -> list[int]:
        t = " ".join((text or "").lower().split())
        raw = np.frombuffer(t.encode("utf-8", "replace"), dtype=np.uint8)
        if len(raw) < k:
            raw = np.pad(raw, (0, k - len(raw)), constant_values=95)
        win = np.lib.stride_tricks.sliding_window_view(raw, k).astype(np.uint64)
        weights = B ** np.arange(k, dtype=np.uint64)
        hashes = (win * weights).sum(axis=1) & MASK
        # mix (splitmix-style) so adjacent grams decorrelate
        h = (hashes + np.uint64(0x9E3779B97F4A7C15)) & MASK
        h = ((h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK
        h = h ^ (h >> np.uint64(31))
        if len(h) < window:
            sel = np.array([h.min()])
        else:
            wins = np.lib.stride_tricks.sliding_window_view(h, window)
            sel = np.unique(wins.min(axis=1))
        return (sel & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64).tolist()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({id_col: pdf[id_col],
                                "fingerprints": [fp_one(t) for t in pdf[text_col]]})

    schema = T.StructType([docs.schema[id_col],
                           T.StructField("fingerprints", T.ArrayType(T.LongType()))])
    return docs.select(id_col, text_col).mapInPandas(gen, schema=schema)


def shared_fingerprint_pairs(docs, id_col: str = "doc_id", text_col: str = "text",
                             min_shared: int = 3, min_containment: float = 0.0,
                             k: int = 5, window: int = 4):
    """Candidate near-dup pairs by shared winnowing fingerprints:
    explode → self-equi-join on fingerprint → count shared per pair,
    plus the containment ratio shared / min(|fp_a|, |fp_b|) (common
    k-grams alone connect everything in templated corpora — containment
    is the winnowing-scheme similarity measure)."""
    fps = winnowing_fingerprints(docs, id_col, text_col, k, window) \
        .withColumn("n_fp", F.size("fingerprints"))
    e = fps.select(F.col(id_col), "n_fp", F.explode("fingerprints").alias("fp"))
    a = e.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a"), "fp")
    b = e.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_b"), "fp")
    return (
        a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"),
             F.round(F.count("*") / F.least(F.first("n_a"), F.first("n_b")), 6)
             .alias("containment"))
        .filter((F.col("n_shared") >= min_shared)
                & (F.col("containment") >= min_containment))
    )
