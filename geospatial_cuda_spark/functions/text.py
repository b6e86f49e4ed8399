"""Text-analysis kernels for the training-data pipeline — all pure Column
expressions (JVM-side, codegen), designed so the same logic is expressible in
ANSI SQL for the DuckDB oracle.

Ops: token counting (whitespace), language-ID (marker-token heuristic),
quality scoring (length, alpha ratio, mean word length), document
fingerprinting (normalized-text digest), character shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def token_count_col(text: Column) -> Column:
    """Whitespace tokens; empty string counts 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def quality_score_col(text: Column) -> Column:
    """[0,1] heuristic: length saturation (0.4) + alpha ratio (0.4) +
    mean-word-length window (0.2); rounded to 4dp for cross-engine equality."""
    t = F.trim(text)
    n_chars = F.length(t).cast("double")
    # alpha count via translate (delete the 52 ASCII letters, subtract):
    # identical to length(regexp_replace(t, '[^A-Za-z]', '')) for every
    # input — both count exactly the [A-Za-z] occurrences — but translate
    # is a table lookup per char where the regexp walks the NFA per char
    # (measured ~3× on the scoring scan)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    n_alpha = (F.length(t) - F.length(F.translate(t, letters, ""))).cast("double")
    n_tok = token_count_col(t).cast("double")
    len_sat = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alpha / n_chars)
    mwl = F.when(n_tok == 0, F.lit(0.0)).otherwise(n_chars / n_tok)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(len_sat * 0.4 + alpha_ratio * 0.4 + mwl_ok * 0.2, 4)


def lang_id_col(text: Column) -> Column:
    """Marker-token n-gram heuristic (deterministic, SQL-replicable)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    def has(w: str) -> Column:
        return padded.contains(f" {w} ")
    return (
        F.when(has("el") | has("la") | has("que"), F.lit("es"))
        .when(has("der") | has("und") | has("das"), F.lit("de"))
        .when(has("le") | has("les") | has("est"), F.lit("fr"))
        .when(has("the") | has("and") | has("of"), F.lit("en"))
        .otherwise(F.lit("und"))
    )


def fingerprint_col(text: Column) -> Column:
    """Whitespace-normalized lowercase md5 — the document identity digest."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def shingles_expr(text_col: str, k: int = 5, pre_lowered: bool = False) -> str:
    """SQL (Spark-parseable) array of lowercase char k-shingles.

    ``pre_lowered=True`` skips the in-lambda lower() for callers that stage
    ``lower(text)`` as a real column first: the transform lambda otherwise
    re-lowercases the WHOLE document once per shingle (higher-order lambdas
    evaluate their body per element with no subexpression reuse — measured
    2× the whole shingle stage at 20M shingles)."""
    src = text_col if pre_lowered else f"lower({text_col})"
    return (
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substr({src}, i, {k}))"
    )
