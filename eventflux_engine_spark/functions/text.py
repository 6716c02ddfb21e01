"""Text-analysis functions for large-scale training-data pipelines.

These go beyond the reference's scalar library (its string functions are
generic — ``string_functions.rs``); they are the per-document/per-turn
operators a 100 TB corpus pipeline needs: token counting, language ID,
quality scoring, fingerprinting.

Two tiers:

- Catalyst-native column builders (the hot path — whole-stage codegen, no
  Python). Each has an exact DuckDB-SQL twin in ``plans/registry.py`` so the
  driver's oracle validates it.
- an Arrow-vectorized ``pandas_udf`` bundle (:func:`text_features_pandas`)
  for transforms that genuinely need Python (north_rule: vectorized
  pandas/Arrow UDFs only, never per-row Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datamodel import local_df

__all__ = [
    "normalize_text",
    "token_count",
    "stopword_hits",
    "lang_id",
    "quality_score",
    "doc_fingerprint",
    "LANG_MARKERS",
    "text_features_pandas",
    "PII_PATTERNS",
    "pii_counts",
    "pii_redact",
]

#: tiny deterministic marker-word lists per language (n-gram-heuristic
#: language ID). Accuracy is secondary — determinism and engine-parity are
#: the contract; the `documents.lang` column provides a sanity check.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "es": ["el", "la", "que", "los", "es"],
    "fr": ["le", "la", "les", "est", "une"],
    "zh": ["的", "是", "了", "在", "我"],
}


def normalize_text(c: Column) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics (keeps CJK)."""
    out = F.lower(c)
    out = F.regexp_replace(out, r"[^\p{L}\p{N}\s]", " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def token_count(c: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


#: BPE-style pre-tokenizer classes (GPT-2-ish, lookahead-free so the same
#: pattern runs under Java regex (Spark) and RE2 (DuckDB)): letter runs,
#: digit runs, runs of other non-space symbols.
BPE_TOKEN_RE = r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)"


def bpe_token_count(c: Column) -> Column:
    """Sub-word-ish token count: a BPE pre-tokenizer's segment count — the
    unit a training-data pipeline budgets by (letters/digits/punct split,
    whitespace dropped)."""
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def _word_hits(c: Column, word: str) -> Column:
    # count of whole-word occurrences in the padded, lowercased text.
    # regexp_count matches the same non-overlapping occurrences as
    # size(regexp_extract_all(...)) but never materializes the match array
    # (lang_id runs 25 of these per row — the allocation was the wall).
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    return F.regexp_count(padded, F.lit(f"( {word} )"))


def stopword_hits(c: Column, lang: str = "en") -> Column:
    """Number of marker-stopword occurrences for ``lang``."""
    hits = [_word_hits(c, w) for w in LANG_MARKERS[lang]]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def lang_id(c: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts (ties break by
    language code order; 'und' when nothing matches)."""
    scores = {lang: stopword_hits(c, lang) for lang in sorted(LANG_MARKERS)}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reverse so earlier languages win ties via later .when precedence
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(c: Column) -> Column:
    """Deterministic document quality score in [0, 1].

    Blend of: length band (20..2000 chars), alphanumeric ratio, stopword
    density. The exact formula is mirrored in SQL for the oracle.
    """
    n = F.length(c)
    alnum = F.regexp_count(c, F.lit(r"([\p{L}\p{N}])"))
    alnum_ratio = F.when(n > 0, alnum / n).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 20) & (n <= 2000), F.lit(1.0)).otherwise(F.lit(0.0))
    toks = token_count(c)
    stop_density = F.when(toks > 0, stopword_hits(c, "en") / toks).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * len_ok
        + F.lit(0.4) * alnum_ratio
        + F.lit(0.2) * F.least(F.lit(1.0), stop_density * 4)
    )
    return F.round(score, 4)


def doc_fingerprint(c: Column) -> Column:
    """Content fingerprint: md5 of the normalized text.

    md5 is the one hash with identical output in Spark and DuckDB, which
    makes fingerprints (and the MinHash built on them in ``dedup.py``)
    oracle-checkable end to end.
    """
    return F.md5(normalize_text(c))


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("avg_token_len", T.DoubleType()),
        T.StructField("upper_ratio", T.DoubleType()),
    ]
)


#: PII scrub patterns, ordered (redaction applies them in this order; the
#: oracle mirrors both pattern and order). Every construct here (char
#: classes, bounded quantifiers, \b) behaves identically under Java regex
#: (Spark) and RE2 (DuckDB) — no lookarounds, no backrefs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,6}", "<EMAIL>"),
    ("phone", r"\b555-[0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_counts(c: Column) -> dict[str, Column]:
    """Per-kind PII occurrence counts (regexp_extract_all size — one pass
    per pattern, whole-stage codegen, no Python)."""
    return {kind: F.regexp_count(c, F.lit(pat)) for kind, pat, _ in PII_PATTERNS}


def pii_redact(c: Column) -> Column:
    """Redact all PII kinds with typed placeholder tokens, in
    ``PII_PATTERNS`` order (order matters: an email is redacted before the
    ipv4 pattern could bite its domain digits)."""
    out = c
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


@F.pandas_udf(_FEATURE_SCHEMA)
def text_features_pandas(texts: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized per-turn text features (the north_rule UDF surface).

    ≙ reference script-UDF extension point
    (``script_function_executor.rs``) — but batched via Arrow, never per-row.
    """
    s = texts.fillna("")
    tokens = s.str.split()
    n_tokens = tokens.str.len().fillna(0).astype("int32")
    n_chars = s.str.len().astype("int32")
    total_token_chars = tokens.map(lambda ws: sum(len(w) for w in ws) if ws else 0)
    avg_token_len = (total_token_chars / n_tokens.replace(0, pd.NA)).fillna(0.0).astype("float64")
    n_upper = s.str.count(r"[A-Z]")
    upper_ratio = (n_upper / n_chars.replace(0, pd.NA)).fillna(0.0).astype("float64")
    return pd.DataFrame(
        {
            "n_tokens": n_tokens,
            "n_chars": n_chars,
            "avg_token_len": avg_token_len,
            "upper_ratio": upper_ratio,
        }
    )


# -- distributed BPE vocabulary training (round 5) ---------------------------
# Iterative merges over word-frequency tables: per round, count adjacent
# symbol pairs weighted by word count, pick the most frequent pair
# (deterministic tie-break), merge it everywhere, repeat. Symbols are
# BRACKET-ENCODED ('<a><b><c>') so the merge is a plain left-to-right
# string replace('<L><R>', '<LR>') — non-overlapping sequential scan IS
# greedy BPE on this encoding (runs merge pairwise: '<a><a><a>' ->
# '<aa><a>'), and the full '<sym>' brackets make substring collisions
# impossible. Spark and DuckDB replace() share these scan semantics, so
# the whole training loop is value-hashable with NO floats anywhere.


def bpe_encode_word(word_col: Column) -> Column:
    """'abc' -> '<a><b><c>' (each char bracket-wrapped)."""
    return F.regexp_replace(word_col, "(.)", "<$1>")


def bpe_symbols(enc_col: Column) -> Column:
    """'<a><bc>' -> ['a', 'bc']."""
    # btrim(s, '<>') == trim(BOTH '<>' FROM s); public API (no Column._jc,
    # which breaks under Spark Connect — ADVICE r5)
    return F.split(F.btrim(enc_col, F.lit("<>")), "><")


def bpe_train(docs: DataFrame, n_merges: int = 6, text_col: str = "text") -> DataFrame:
    """Train BPE merges on a document corpus; returns one row per merge
    round: (round, left, right, merged, pair_count). Training stops early
    once no adjacent pair is left (an empty or too-small corpus), so the
    table holds the merges made so far and may be empty.

    Scale shape: the corpus collapses to a DISTINCT-WORD frequency table
    once (one shuffle over tokens — at 100 TB the vocabulary table is
    tiny relative to the corpus), then every round is pair-explode →
    count (one small shuffle over the vocab) → argmax pulled to the
    driver (a 1-row scalar probe, the k-means-codebook discipline) and a
    narrow literal replace. The round's only action is that argmax
    collect, which also materializes the previous round's lazily
    localCheckpointed word table — ONE Spark job per round (the r5 shape
    ran three: eager argmax checkpoint, eager word checkpoint, and the
    argmax re-read through a per-round broadcast cross join). No floats
    anywhere; the merge table itself is a local relation.
    """
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(bpe_encode_word(F.col("w")).alias("s"), "wc")
    )
    words = words.localCheckpoint(eager=False)
    spark = docs.sparkSession
    merge_rows = []
    for rnd in range(1, n_merges + 1):
        syms = bpe_symbols(F.col("s"))
        n = F.size(syms)
        pairs = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, n - 1),
                        F.slice(syms, 2, n - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "wc",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .select("l", "r", "cnt")
            .collect()
        )
        if not top:  # every word is one symbol: no pair left to merge
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merge_rows.append((rnd, left, right, left + right, cnt))
        words = (
            words.select(
                F.replace(
                    F.col("s"),
                    F.lit(f"<{left}><{right}>"),
                    F.lit(f"<{left}{right}>"),
                ).alias("s"),
                "wc",
            )
            .localCheckpoint(eager=False)
        )
    return local_df(
        spark,
        merge_rows,
        "round int, left string, right string, merged string, pair_count bigint",
    )


def bpe_train_sql(n_merges: int = 6, docs_rel: str = "documents") -> str:
    """DuckDB twin of :func:`bpe_train` — the merge loop unrolled as CTE
    rounds (the trained-IVF discipline): same bracket encoding, same
    pair explode/count, same (cnt DESC, l, r) argmax, same replace."""
    ctes = [
        f"""w0 AS (
      SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, count(*) AS wc
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM {docs_rel}) t
      WHERE w <> '' GROUP BY w
    )"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"""p{r} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r, sum(wc) AS cnt
      FROM (SELECT string_split(trim(s, '<>'), '><') AS syms, wc FROM {prev}) t,
           unnest(generate_series(1, len(syms) - 1)) u(i)
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"t{r} AS (SELECT l, r, cnt FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"""w{r} AS (
      SELECT replace(s, '<' || l || '><' || r || '>', '<' || l || r || '>') AS s, wc
      FROM {prev}, t{r}
    )"""
        )
    rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, l AS left, r AS right, l || r AS merged, "
        f"cast(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows
