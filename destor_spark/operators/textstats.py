"""Text-analysis primitives shared by the query surface and curation.

Pure JVM built-ins (split/filter inside whole-stage codegen), so every
use is also expressible as ANSI SQL for the DuckDB oracle (see
destor_spark/queries.py: q_lang_id, q_quality_scores, ...).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny, frozen stopword lists — the DuckDB oracle SQL embeds these same
# literals (queries._sql_inlist reads this dict).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un", "en", "una"],
}


def tokens(text: Column) -> Column:
    """Split on single spaces, drop empties (portable to DuckDB)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))
