"""Dialect-common SQL snippets shared by Spark queries and DuckDB oracles.

Rounding is the classic cross-engine trap: Spark's ``round``/
``format_string`` use Java HALF_UP, DuckDB's ``printf`` uses C
half-even, and JS ``toFixed`` (the reference, MWC:349-365) rounds
half-away-from-zero on the exact double. To make the two sides of the
correctness harness agree bit-for-bit, every rounded value is computed
with the SAME SQL text on both sides — integer-exact floor arithmetic
that has one defined answer in IEEE doubles:

- ``rhu_sql(x, d)``       → round-half-up to d decimals, as DOUBLE
- ``fixed_str_sql(x, d)`` → fixed-precision decimal STRING (toFixed analog)
- ``form_enc_sql(x)``     → x-www-form-urlencoded value
- ``fits_sql(x)``         → ``abs(x) < 9.0e12``: x is finite and fits
  the fixed-point bound (NaN, ±Inf and NULL do not)
- ``cents_sql(x, scale)`` → ``floor(x * scale + 0.5)`` as BIGINT, NULL
  where x does not fit
- ``bigint_sql(x)``       → integral x as BIGINT, NULL where it does not fit

Spark consumes these via ``spark.sql`` or ``F.expr(...)``; oracle SQL
embeds the same text verbatim. Both parsers accept the subset used
here (CASE, CAST, floor, abs, lpad, replace, ``||``).
"""

from __future__ import annotations

# The one magnitude bound of every fixed-point value in the repo. A
# FINITE value with |x| >= 9.0e12 passes every abs(x) < inf guard, but
# its scaled value overflows int64 at scale 10^6 (9.0e12 * 1e6 = 9.0e18
# < 2^63 ~ 9.22e18); scales above 10^6 use the tighter _bound_sql(d).
# Past int64 the engines disagree without failing: Spark's
# floor(double) returns LONG through Java's saturating conversion (a
# Long.MAX-shaped answer) while DuckDB's CAST raises. Such a value is
# therefore treated like NaN/±Inf: the guard turns it into NULL (a
# missing measurement), and q_dq_checks counts it in its
# *_fits_fixed_point rows. Builders and oracles both spell the guard
# through fits_sql/cents_sql/bigint_sql below, so the bound is written
# only here.
FIXED_POINT_MAX = 9.0e12
FIXED_POINT_MAX_SQL = "9.0e12"


def _bound_sql(d: int) -> str:
    """Scale-aware magnitude-guard literal for fixed-point scale 10**d.

    FIXED_POINT_MAX (9.0e12) only keeps floor(x * 10^d + 0.5) inside
    int64 for d <= 6; at d=8 (in use: relational.py exp_disc et al.) a
    value in [2^63/1e8 ~ 9.22e10, 9.0e12) passes the flat guard yet
    saturates Spark's floor->LONG while DuckDB's floor stays an exact
    double — a silent asymmetric answer. Shrink the bound one decade
    per digit beyond 6: 9.0e12 / 10^(d-6), which is always
    < 2^63/10^d with a whole ~2.4% + decade margin against float
    rounding at the boundary. For d <= 6 the literal stays textually
    '9.0e12'. Both engines always receive the SAME generated text, so
    parity is structural whatever d is."""
    return f"9.0e{12 - max(0, d - 6)}"


def fits_sql(x: str) -> str:
    """``x`` is finite and inside the fixed-point bound. NaN, ±Inf,
    NULL and huge-finite values all fail it, so a guarded value is
    NULL exactly where it could not be scaled into int64."""
    return f"abs({x}) < {FIXED_POINT_MAX_SQL}"


def cents_sql(x: str, scale: int = 100) -> str:
    """``floor(x * scale + 0.5)`` as BIGINT: integer-exact fixed point,
    identical on both engines, so money sums add BIGINTs in any order.
    A value that fails ``fits_sql`` becomes NULL rather than a
    saturated Spark LONG or a DuckDB cast error. ``scale`` is at most
    10^6, the scale the bound is sized for."""
    return f"CASE WHEN {fits_sql(x)} THEN CAST(floor(({x}) * {scale} + 0.5) AS BIGINT) END"


def bigint_sql(x: str) -> str:
    """Integral ``x`` as BIGINT, NULL where it fails ``fits_sql``. Only
    for integral values: the cast truncates on Spark and rounds on
    DuckDB."""
    return f"CASE WHEN {fits_sql(x)} THEN CAST({x} AS BIGINT) END"


def rhu_sql(x: str, d: int) -> str:
    """Round-half-up(+inf) of expression ``x`` to ``d`` decimals, as DOUBLE.

    Non-finite inputs round to NULL: Spark's ``floor`` converts NaN to
    BIGINT 0 where DuckDB keeps NaN — a SILENT divergence, not even a
    crash. An unroundable value is an invalid measurement; NULL is the
    engine-agnostic spelling. HUGE-finite inputs (|x| >=
    ``_bound_sql(d)``) round to NULL too: Spark's floor->LONG
    saturates at Long.MAX where DuckDB keeps the exact double
    (q_case_when read 9223372036854.775 against 1.07e16 on the same
    1e17 word)."""
    if d == 0:
        body = f"floor(({x}) + 0.5)"
    else:
        p = 10 ** d
        body = f"(floor(({x}) * {p} + 0.5) / {p})"
    return f"CASE WHEN abs({x}) < {_bound_sql(d)} THEN {body} END"


def fixed_str_sql(x: str, d: int) -> str:
    """Fixed ``d``-decimal string of ``x`` via integer-exact arithmetic.

    JS ``toFixed`` analog (MWC:290, 349-365) with half-up-on-abs ties;
    sign handled separately so negative values render correctly.
    Non-finite or huge-finite inputs (|x| >= ``_bound_sql(d)``) render
    NULL: the BIGINT casts inside would raise on DuckDB while Spark's
    floor->LONG silently saturates — self-defending guard, same
    validity class as rhu_sql."""
    if d == 0:
        body = (
            f"(CASE WHEN ({x}) < 0 AND floor(abs({x}) + 0.5) > 0 THEN '-' ELSE '' END"
            f" || CAST(CAST(floor(abs({x}) + 0.5) AS BIGINT) AS STRING))"
        )
        return f"CASE WHEN abs({x}) < {_bound_sql(d)} THEN {body} END"
    p = 10 ** d
    n = f"CAST(floor(abs({x}) * {p} + 0.5) AS BIGINT)"
    whole = f"CAST(floor({n} / CAST({p} AS DOUBLE)) AS BIGINT)"
    frac = f"({n} - {whole} * {p})"
    body = (
        f"(CASE WHEN ({x}) < 0 AND {n} > 0 THEN '-' ELSE '' END"
        f" || CAST({whole} AS STRING) || '.'"
        f" || lpad(CAST({frac} AS STRING), {d}, '0'))"
    )
    return f"CASE WHEN abs({x}) < {_bound_sql(d)} THEN {body} END"


# --- x-www-form-urlencoded encoding (dialect-common replace chain) ----------
#
# The reference url-encodes its form body implicitly via UrlFetchApp
# (MWC:389-396). A bare space/colon replace corrupts values containing
# '&', '=', '%' or '+', so this encodes the full reserved
# set for the WOW payload charset. Order matters: '%' first (so
# introduced escapes are not re-escaped), literal '+' before space→'+'.

_FORM_ENC_CHAIN = [
    ("%", "%25"),
    ("&", "%26"),
    ("=", "%3D"),
    ("+", "%2B"),
    (":", "%3A"),
    (" ", "+"),
]


def form_enc_sql(x: str) -> str:
    """Percent-encode form value ``x`` (valid in Spark SQL and DuckDB)."""
    for src, dst in _FORM_ENC_CHAIN:
        x = f"replace({x}, '{src}', '{dst}')"
    return x
