"""Text kernels shared by the dedup, curation and text-statistics queries
and the curation pipeline: tokenizers, the 32-bit md5 hash and the PII
patterns.

Twin contract: every ``*_S`` string is a Spark SQL expression and its
``*_D`` twin is the DuckDB expression the oracles embed. On the same
input the two engines return equal values: token arrays element for
element, hashes bit for bit. That equality is what lets every query
built on these kernels be value-checked against its oracle. The
tokenizers read a column named ``text`` (callers substitute another
name with ``str.replace``); the hash twins take the hashed expression
as ``{x}``. ``h32`` is the Python twin of the hash, for constants built
in Python and embedded as literals in both plans.
"""

from __future__ import annotations

import hashlib

# Whitespace tokens: trim, then split on whitespace runs.
WS_TOKS_S = r"split(trim(text), '\\s+')"
WS_TOKS_D = r"string_split_regex(trim(text), '\s+')"

# Lowercase alpha tokens: the [a-z]+ runs of lower(text).
ALPHA_TOKS_S = (
    "filter(split(regexp_replace(lower(text), '[^a-z]+', ' '), ' '),"
    " x -> x <> '')"
)
ALPHA_TOKS_D = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')"
    ", ' '), x -> x <> '')"
)

# The first 8 hex chars of md5 as a 32-bit integer.
H32_S = "cast(conv(substr(md5({x}),1,8),16,10) as bigint)"
H32_D = "('0x' || substr(md5({x}),1,8))::BIGINT"


def h32(s: str) -> int:
    """Python twin of ``H32_S``/``H32_D``."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# PII patterns chosen to behave identically under Java regex and RE2
# (DuckDB): no lookaround, no backrefs.
EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
