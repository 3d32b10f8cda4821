"""DuckDB oracle SQL fragments shared by several query modules.

A leaf module (no package imports), so every ``queries_*`` module can
import it without going through another query module's half-run body.
"""

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_WORDS = f"string_split_regex({_NORM}, ' ')"
_DOT_DEC = (
    "(SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,15)))"
    " FROM (SELECT UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y))"
)
