"""Reusable column-level functions (the reference's only true
"library" surface — bespin Tokenizer et al. — re-expressed as pure
Spark SQL expressions so everything stays JVM-side / codegen'd).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"


def tokenize(col: Column | str) -> Column:
    """bespin `Tokenizer.tokenize` equivalent: lowercase, replace
    non-alphanumeric runs with spaces, split, drop empties.

    Reference import site: a0/WordCount.java:19,
    a2/ComputeBigramRelativeFrequencyPairs.scala:19. Pure built-in
    functions — no Python UDF, so it inlines into whole-stage
    codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), TOKEN_SPLIT_PATTERN, " "), " "),
        lambda x: x != "",
    )


# DuckDB-side rendering of the same tokenizer, used in oracle SQL so
# both engines tokenize identically.
def tokenize_sql(expr: str) -> str:
    return (
        "list_filter(string_split(regexp_replace(lower("
        + expr
        + "), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')"
    )
