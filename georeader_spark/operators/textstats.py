"""Text-analysis operators: language-ID, quality scoring, token counts,
fingerprinting (task brief; all over the documents table).

Everything here is pure column expressions (JVM-side, codegen) except
the rolling-hash fingerprint, which is an Arrow-batched UDF over the
shared kernel. The expression variants have exact DuckDB SQL twins in
__spark_entry__.py so they are oracle-gated.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..kernels import text as ktext


def whitespace_token_count_col(text: Column) -> Column:
    """Token count by whitespace split of trimmed text ('' -> 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def quality_score_staged(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality score with intermediates projected once per stage (the
    plan Catalyst should see): docs + ``quality`` column (unrounded)."""
    t = F.col(text_col)
    staged = docs.withColumns(
        {
            "_words": whitespace_token_count_col(t),
            "_punct": F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")),
            "_chars": F.length(t),
            "_sw": F.size(
                F.filter(
                    F.split(F.lower(F.trim(t)), r"\s+"),
                    lambda x: x.isin("the", "and", "of", "a", "to"),
                )
            ),
        }
    )
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("_words") / F.lit(100.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.col("_punct") / F.greatest(F.col("_chars"), F.lit(1)))
        + F.lit(0.3)
        * F.least(
            F.lit(1.0),
            F.lit(5.0) * F.col("_sw") / F.greatest(F.col("_words"), F.lit(1)),
        )
    )
    return staged.withColumn("quality", quality).drop(
        "_words", "_punct", "_chars", "_sw"
    )


#: languages and their marker words for the heuristic language-ID;
#: markers are counted as whole whitespace-delimited tokens.
LANG_MARKERS = {
    "en": ["the", "and", "is"],
    "es": ["el", "la", "los"],
    "fr": ["le", "les", "est"],
    "de": ["der", "die", "und"],
    "pt": ["os", "uma", "não"],
}


def lang_id_col(text: Column) -> Column:
    """Heuristic language-ID: argmax over marker-token counts, 'und'
    when no marker hits. Deterministic tie-break by language order."""
    t = F.lower(F.trim(text))
    toks = F.split(t, r"\s+")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        cnt = F.size(F.filter(toks, lambda x: x.isin(*markers)))
        scores.append((lang, cnt))
    best = F.lit("und")
    best_cnt = F.lit(0)
    # iterate reversed so earlier languages win ties
    for lang, cnt in reversed(scores):
        best = F.when(cnt >= F.greatest(best_cnt, F.lit(1)), F.lit(lang)).otherwise(best)
        best_cnt = F.greatest(cnt, best_cnt)
    return best


def fingerprint_udf_col(text: Column) -> Column:
    """Rolling-hash document fingerprint (kernels.text.rolling_fingerprint)
    as an Arrow-batched UDF (non-SQL-expressible -> rows-only check)."""

    @F.pandas_udf(LongType())
    def fp(t: pd.Series) -> pd.Series:
        return t.map(lambda s: ktext.rolling_fingerprint(s or "") % (1 << 62))

    return fp(text)
