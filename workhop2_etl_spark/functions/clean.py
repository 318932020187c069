"""Scalar cleaning functions — SURVEY.md §2.3 (F1–F9).

Every scalar transform in the reference pipeline — including its one
real Python UDF, ``normalize_text`` (dags/etl_grammy_spotify.py:105-111)
— compiles here to built-in column expressions. Zero Python UDFs:
everything stays inside whole-stage codegen, which is the difference
between a vectorized JVM pipeline and a per-row Python round-trip at
100 TB.

All functions are ``Column -> Column`` (composable in any select),
with reference file:line citations for parity checking.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Artist-separator tokens the reference folds to ';'
#: (dags/etl_grammy_spotify.py:108-109): feat. / featuring / ft. / & / and,
#: each consumed together with surrounding whitespace. Kept verbatim —
#: including the absence of word boundaries around 'and', so 'band' →
#: 'b;' exactly as in the reference (a documented quirk, not a bug here).
_SEP_PATTERN = r"\s*(?:feat\.|featuring|ft\.|&|and)\s*"


def ws_strip(c: Column) -> Column:
    """Python ``str.strip()`` semantics: remove ALL leading/trailing
    whitespace. Spark's built-in ``trim`` strips only ASCII spaces —
    a '\\n'-padded value survives it (caught by the property suite)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def normalize_text(c: Column) -> Column:
    """F1 — the reference's core normalizer (dags/etl_grammy_spotify.py:105-111).

    null→'' ; lowercase ; strip ; artist separators → ';' ; collapse
    whitespace. Pure expressions: coalesce/lower/regexp_replace.
    """
    x = ws_strip(F.lower(F.coalesce(c, F.lit(""))))
    x = F.regexp_replace(x, _SEP_PATTERN, ";")
    return F.regexp_replace(x, r"\s+", " ")


def normalize_simple(c: Column) -> Column:
    """F2 — fillna('') + lower + strip (dags/etl_grammy_spotify.py:116-117)."""
    return ws_strip(F.lower(F.coalesce(c, F.lit(""))))


def normalize_separators_only(c: Column) -> Column:
    """F3 — the pipeline's *second* artist normalizer
    (dags/etl_grammy_spotify.py:206): lowercase + literal '&'/',' → ';'.
    Deliberately distinct from F1 (no feat-handling, no trim) — the two
    variants disagree on purpose (SURVEY.md §3.2).
    """
    return F.translate(F.lower(c), "&,", ";;")


def blank_to_null(c: Column) -> Column:
    """F4 — `''` (and whitespace-only) → NULL. The engine normalizes the
    reference's three null regimes ('' / NaN / 'N/A') to real NULLs at
    ingest (SURVEY.md §7.4 item 4)."""
    return F.when(ws_strip(c) == "", None).otherwise(c)


def null_to_sentinel(c: Column, sentinel: str = "N/A") -> Column:
    """F4 (export side) — re-materialize the reference's 'N/A' sentinel
    only at the output boundary (dags/etl_grammy_spotify.py:272)."""
    return F.coalesce(c, F.lit(sentinel))


def str_to_bool(c: Column) -> Column:
    """F5 — `'true'/'false'` (any case) → boolean, else NULL
    (dags/etl_grammy_spotify.py:275-276). The pandas original's
    `.astype(bool)` after the map turned unmapped→NaN→True; that footgun
    is deliberately not reproduced (eda.ipynb cell 15 fills False)."""
    lc = F.lower(ws_strip(c))
    return (
        F.when(lc == "true", F.lit(True)).when(lc == "false", F.lit(False)).otherwise(F.lit(None))
    ).cast("boolean")


def parse_timestamp_coerce(c: Column, fmt: str = "yyyy-MM-dd'T'HH:mm:ssXXX") -> Column:
    """F6 — ISO-8601-with-offset parse, NULL on failure — matches
    `pd.to_datetime(errors='coerce')` (dags/cargar_grammy.py:9-10).
    Spark's try_to_timestamp returns NULL instead of raising.

    Returned as TIMESTAMP_NTZ so the value is session-conf-proof:

    - offset-less formats: try_to_timestamp interprets the string's
      wall-clock in the SESSION timezone and yields an instant;
      casting back to NTZ in the same session recovers the parsed
      wall-clock exactly — the literal time the string spells,
      whatever ``spark.sql.session.timeZone`` is (pandas'
      naive-datetime semantics).
    - offset-carrying formats (X/x/Z/O outside quoted literals): the
      string pins its own instant, so the deterministic rendering is
      that instant's UTC wall-clock — reconstructed from epoch micros
      by interval arithmetic from the NTZ epoch, never an
      instant→wall cast (which renders in the session zone and is
      ambiguous across a fall-back DST hour).

    Offset-token detection strips single-quoted literal runs first, so
    a pattern like ``yyyy-MM-dd HH:mm:ss 'Z'`` (literal Z, no offset)
    takes the offset-less path. The offset-less path parses the string
    directly as TIMESTAMP_NTZ (guarded by the try_to_timestamp NULL
    check so unparseable input stays NULL under ANSI mode too) — a
    wall-clock inside the session timezone's spring-forward DST gap
    therefore round-trips exactly instead of shifting by the gap."""
    parsed = F.try_to_timestamp(c, F.lit(fmt))
    unquoted = re.sub(r"'[^']*'", "", fmt)
    has_offset = any(tok in unquoted for tok in ("X", "x", "Z", "O", "V"))
    if has_offset:
        # Range guard (found by adversarial inputs): a parseable instant
        # whose UTC wall-clock falls outside TIMESTAMP_NTZ's domain
        # ('9999-12-31T23:59:59-01:00' renders as year 10000;
        # '0001-01-01T00:00:00+05:00' as year 0) would otherwise
        # build an out-of-domain NTZ that crashes at materialization.
        # errors='coerce' semantics: unrepresentable → NULL.
        us = F.unix_micros(parsed)
        in_range = us.between(F.lit(_NTZ_MIN_US), F.lit(_NTZ_MAX_US))
        return F.when(parsed.isNotNull() & in_range, _ntz_of_unix_micros(us))
    return F.when(parsed.isNotNull(), F.to_timestamp_ntz(c, F.lit(fmt)))


_US_PER_DAY = 86_400_000_000
#: TIMESTAMP_NTZ domain in epoch micros: 0001-01-01T00:00:00.000000
#: through 9999-12-31T23:59:59.999999 (proleptic Gregorian).
_NTZ_MIN_US = -62_135_596_800_000_000
_NTZ_MAX_US = 253_402_300_799_999_999


def _ntz_of_unix_micros(us: Column) -> Column:
    """TIMESTAMP_NTZ carrying the UTC wall-clock of an epoch-micros
    BIGINT column, independent of ``spark.sql.session.timeZone`` —
    the Column twin of session.py::_ntz_of_epoch_micros. ``us - rem``
    is exactly day-divisible, so the double division is exact; the
    sub-day remainder is < 8.64e10 µs, exact in make_dt_interval's
    double seconds to well under half a microsecond. Sign-of-dividend
    ``%`` (negative remainder pre-1970) still sums correctly:
    days·86400e6 + rem ≡ us for either sign."""
    rem = us % F.lit(_US_PER_DAY)
    days = ((us - rem) / F.lit(_US_PER_DAY)).cast("int")
    return F.expr("make_timestamp_ntz(1970, 1, 1, 0, 0, 0)") + F.make_dt_interval(
        days, F.lit(0), F.lit(0), rem.cast("double") / F.lit(1_000_000.0)
    )


def cast_numeric_sentinel(c: Column, dtype: str, sentinel: str = "N/A") -> Column:
    """F7 — numeric re-cast treating the string sentinel as NULL
    (dags/etl_grammy_spotify.py:279-293). try_cast keeps any other
    unparseable garbage NULL rather than failing the job."""
    return F.when(c == sentinel, F.lit(None)).otherwise(c).try_cast(dtype)


def prefix_before(c: Column, delim: str = "(") -> Column:
    """F8 — text before the first delimiter, trimmed — the fuzzy-join
    fallback key `song.split('(')[0].strip()`
    (dags/etl_grammy_spotify.py:236). substring_index needs no regex
    escaping (the reference needed re.escape; we don't)."""
    return ws_strip(F.substring_index(c, delim, 1))


def impute_when(c: Column, cond: Column, replacement: Column) -> Column:
    """F9 — conditional column assignment (dags/etl_grammy_spotify.py:173-180):
    `c := replacement WHERE cond` as a pure expression."""
    return F.when(cond, replacement).otherwise(c)


def keyword_match(c: Column, keywords: list[str]) -> Column:
    """P4 — ANY-keyword containment (dags/etl_grammy_spotify.py:143-144).
    The reference uses a Python `apply(lambda … any …)`; here a single
    rlike alternation (keywords must be regex-safe literals)."""
    return c.rlike("|".join(keywords))
