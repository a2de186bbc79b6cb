"""JVM-side column expressions (whole-stage-codegen'd; no Python).

These mirror the scalar semantics in functions/kernels.py for the parts
Catalyst can run natively — normalization for tokenizing/joining, label
hygiene (F8), date/numeric heuristics (T9/T10). The composite string
metrics stay in Arrow-batched pandas UDFs (functions/udfs.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_text(c: Column | str) -> Column:
    """keyword_normalization (extension_module.rb:45-49): each run of
    non-alphanumerics becomes one space, then trim, then lowercase —
    token-equivalent to the kernel (only inter-token spacing differs,
    which never feeds the metrics JVM-side)."""
    # (?i)[^a-z0-9]+ is byte-equivalent to [^A-Za-z0-9]+ (Java regex
    # CASE_INSENSITIVE without UNICODE_CASE folds ASCII only) but ~20x
    # faster: java.util.regex compiles a <=2-range class to a bitmap
    # predicate, while the 3-range class walks a union chain per char
    # (measured 2.4s -> 0.1s for one pass over 50k docs at 32 cores).
    # The DuckDB oracles keep the spelled-out class — same semantics.
    col = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(F.regexp_replace(col, r"(?i)[^a-z0-9]+", " ")))


def norm_tokens(c: Column | str) -> Column:
    """Array of normalized tokens (empty strings removed)."""
    return F.filter(F.split(norm_text(c), " "), lambda t: t != F.lit(""))


def valid_date_col(c: Column | str) -> Column:
    """T9 (serimi_module.rb:127-129): %m/%d/%Y else %Y-%m-%d.

    Ruby Date.strptime tolerates trailing garbage, so we match leading
    patterns with validated month/day ranges rather than try_to_date."""
    col = F.col(c) if isinstance(c, str) else c

    # try_cast, not cast: regexp_extract returns '' on no-match, and an
    # ANSI-mode cast('' as int) THROWS. The boolean guard in front does
    # not protect it — codegen's common-subexpression elimination can
    # hoist the cast out of the short-circuiting AND (observed as
    # SpecificPredicate.subExpr_0 failures on digit-free labels).
    def _num(pattern: str) -> Column:
        return F.regexp_extract(col, pattern, 1).try_cast("int")

    mdy = F.regexp_extract(col, r"^\s*(\d{1,2})/(\d{1,2})/(\d+)", 0) != ""
    mdy_ok = (
        mdy
        & _num(r"^\s*(\d{1,2})/").between(1, 12)
        & _num(r"^\s*\d{1,2}/(\d{1,2})/").between(1, 31)
    )
    ymd = F.regexp_extract(col, r"^\s*(\d+)-(\d{1,2})-(\d{1,2})", 0) != ""
    ymd_ok = (
        ymd
        & _num(r"^\s*\d+-(\d{1,2})-").between(1, 12)
        & _num(r"^\s*\d+-\d{1,2}-(\d{1,2})").between(1, 31)
    )
    return F.coalesce(mdy_ok | ymd_ok, F.lit(False))


def paren_strip(c: Column | str) -> Column:
    """F8/T12 (serimi_module.rb:163): drop '(' and everything after,
    right-strip."""
    col = F.col(c) if isinstance(c, str) else c
    return F.rtrim(F.regexp_replace(col, r"\(.*$", ""))


def ruby_to_i_col(c: Column | str) -> Column:
    """Ruby String#to_i as a column (leading integer else 0)."""
    col = F.col(c) if isinstance(c, str) else c
    lead = F.regexp_extract(F.trim(col), r"^[+-]?\d+", 0)
    return F.when(lead == "", F.lit(0)).otherwise(lead.cast("long"))


def is_numericish_col(c: Column | str) -> Column:
    """T10 eligibility: o.to_i != 0 (serimi_module.rb:45)."""
    return ruby_to_i_col(c) != 0


def lit_map(d: dict) -> Column:
    """A literal map column of `d`'s items, in `d`'s order."""
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])
