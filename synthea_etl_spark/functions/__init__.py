"""The engine's public column-function library — one import surface
for every reusable expression the operators are built from:

    from synthea_etl_spark import functions as SF
    df.select(SF.fingerprint("text"), SF.token_count("text"))

Everything here is a pure Column expression (JVM-side, codegen-
friendly) or a documented Arrow-UDF factory; nothing shuffles.
"""

from synthea_etl_spark.operators.similarity import (  # noqa: F401
    cosine,
    make_assign_udf,
)
from synthea_etl_spark.operators.text import (  # noqa: F401
    bpe_ish_token_count,
    fingerprint,
    html_to_text,
    lang_guess,
    lang_scores,
    quality_features,
    shingles,
    token_count,
    tokens,
)

__all__ = [
    "bpe_ish_token_count",
    "cosine",
    "fingerprint",
    "html_to_text",
    "lang_guess",
    "lang_scores",
    "make_assign_udf",
    "quality_features",
    "shingles",
    "token_count",
    "tokens",
]
