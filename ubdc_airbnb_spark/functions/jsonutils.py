"""JSON / semi-structured helpers (SURVEY §2.8) as native expressions.

The reference re-parses every payload with jsonpath-ng per row
(/root/reference/src/ubdc_airbnb/ubdc_airbnb/utils/json_parsers.py); here
known paths compile to ``get_json_object`` / ``from_json`` field access so
extraction stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def json_key_long(col: Column | str, key: str) -> Column:
    """X8: JSON text key → typed bigint (ref utils/tasks.py:42-47:
    ``Cast(KeyTextTransform("listing_id", "task_kwargs"), BigIntegerField)``)."""
    return F.get_json_object(_c(col), f"$.{key}").cast("long")


def json_has_key(col: Column | str, key: str) -> Column:
    """P9: jsonb ``has_key`` analog (ref utils/tasks.py:40) — *structural*
    presence of a top-level key, so a key holding an explicit JSON null
    still counts as present (matching Postgres jsonb ``?``), unlike
    ``get_json_object(...).isNotNull()`` which conflates absent and null.
    Non-JSON / non-object input → false."""
    return F.coalesce(
        F.array_contains(F.json_object_keys(_c(col)), F.lit(key)), F.lit(False)
    )


def sanitize_payload(col: Column | str) -> Column:
    """X9: strip NUL escapes from serialized JSON before storing
    (ref models.py:418-425 strips ``\\u0000``)."""
    return F.regexp_replace(_c(col), r"\\u0000", "")


def strip_url_query(url: Column | str) -> Column:
    """X5: drop the query-string from a URL (ref managers.py:285 — picture
    URL ``split("?")[0]``)."""
    return F.substring_index(_c(url), "?", 1)


def url_query_param(url: Column | str, param: str) -> Column:
    """C6: extract one query parameter's value (ref convenience.py:4-10)."""
    return F.parse_url(_c(url), F.lit("QUERY"), F.lit(param))
