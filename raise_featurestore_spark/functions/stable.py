"""Cross-engine-stable emission of continuous aggregates: significant-digit
rounding built from pure IEEE float arithmetic, with an identical Spark and
DuckDB form.

Why this exists (the round-4 flake class): a double aggregate whose
magnitude is unbounded — SUM/AVG/STDDEV/VAR of a price-scale column —
differs between engines (and between Spark partitionings) by parallel
sum-order noise. Decimal rounding (``ROUND(x, 4)``) puts a variance of
~1e9 on a 1e-4 ABSOLUTE grid, i.e. demands ~13 agreeing significant
digits — more than float sum order guarantees — so the last rounded
decimal flips per environment and the driver's 6-significant-digit value
hash straddles (`agg_global_stats` / `filter_quality_rules`, VERDICT.md
round 4 items 1-2). The fix is a RELATIVE grid: round the mantissa to
``digits`` significant digits, so engines must agree to only ~1e-5
relative — many orders of magnitude more slack than the noise — and the
emitted value renders exactly under the driver's ``%.6g``.

Why ``FLOOR(x·s + 0.5)/s`` instead of the engines' ``ROUND``: decimal-
quantized data (prices with 2 decimals) puts aggregate mantissas EXACTLY
on decimal ``.5`` ties, and there the engines' ROUND semantics genuinely
disagree — Spark rounds the SHORTEST decimal representation of the double
(BigDecimal.valueOf, HALF_UP ⇒ sees "8148.95" and rounds up) while DuckDB
rounds the BINARY value (sees 8148.94999… and rounds down). Caught live
at sf0.01: rolling_sum 8149.0 (Spark) vs 8148.9 (DuckDB). Multiply, add
and floor are all exactly specified by IEEE 754, so the floor form is
bit-identical across engines whenever the input double is — ties
included. The scaled mantissa always lands in [10^(digits-1), 10^digits),
so Spark's BIGINT-typed ``floor`` can never overflow.

Zero is pinned to +0.0 (also canonicalizes IEEE −0.0); NULL propagates;
decade boundaries are self-consistent (a value straddling 10^k snaps to
``10.000·10^(k-1)`` on one side, ``1.0000·10^k`` on the other — the same
double).

``stable_round`` fuses the significant-digit snap with a decimal-grid
bound (default 4 decimals) into ONE floor-round, so small-magnitude
outputs keep the familiar ≤4-decimals shape while large magnitudes get
the relative grid — see its docstring for why fused (codegen compile
cost of the composed form).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default significant digits — one under the driver's %.6g render so a
#: correctly-snapped value can never straddle the hash's own rounding
SIG_DIGITS = 5

def _floor_half_up(m: Column) -> Column:
    """Round-half-toward-+inf of an already-scaled value, in pure IEEE ops
    (deterministic on any engine, unlike decimal-vs-binary ROUND)."""
    return F.floor(m + F.lit(0.5))


#: correctly-rounded 10^k reference table (see test_stable_fuzz's engine
#: parse parity sweep)
_EXP10_LO = -320
_EXP10 = [float(f"1e{k}") for k in range(_EXP10_LO, 321)]


def _exp10(k: Column) -> Column:
    """10^k (k integer-valued) via DECIMAL-STRING PARSE, not ``pow``:
    Java's Math.pow is allowed 1 ulp of error while libm's is correctly
    rounded, and that single ulp in the scale factor propagates into the
    snapped value (caught by tests/test_stable_fuzz.py at 1e9·(1+5e-14):
    Spark emitted 1000000000.0000001, DuckDB 999999999.9999999 — masked
    by the driver's %.6g render, but a real bit divergence). String→double
    conversion is REQUIRED to be correctly rounded by both engines, so
    parsing '1e<k>' yields bit-identical scales everywhere.

    An element_at lookup into a 641-entry literal array of Python-parsed
    scales was tried (r9): bit-identical and ~25% faster on a snap-heavy
    SCAN, but plans with many stable_round/sig_round sites (the exact
    percentile family embeds dozens) paid 1.5-2.5× in plan processing
    for the repeated wide literal — a net loss. The per-row string parse
    stays; test_stable_fuzz pins engine parse == Python parse over the
    full exponent table either way."""
    return F.concat(F.lit("1e"), k.cast("int").cast("string")).cast("double")


def sig_round(c: Column, digits: int = SIG_DIGITS) -> Column:
    """``c`` on a ``digits``-significant-digit grid (NULL-safe, −0.0-safe).

    Non-finite values pass through unchanged on BOTH engines: Spark's
    BIGINT-typed ``floor`` would silently turn NaN into 0 (and ±Inf into
    Long.MIN/MAX) while DuckDB's double-typed FLOOR propagates them — a
    NaN-poisoned aggregate must render "null"/"inf" identically everywhere,
    not 0.0 on one engine. |c| < 1e-300 passes through unsnapped: its
    scale string would parse to +Inf and Spark's BIGINT floor would wrap."""
    e = F.floor(F.log10(F.abs(c))).cast("double")
    scale = _exp10(F.lit(float(digits - 1)) - e)
    return (
        F.when(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), c)
        .when(c == 0, F.lit(0.0))
        .when(F.abs(c) < F.lit(1e-300), c)
        .otherwise(_floor_half_up(c * scale) / scale)
    )


def sig_round_sql(expr: str, digits: int = SIG_DIGITS) -> str:
    """DuckDB twin of :func:`sig_round` — the same IEEE op sequence."""
    e = f"FLOOR(LOG10(ABS({expr})))"
    scale = f"CAST('1e' || CAST({float(digits - 1)} - {e} AS INT) AS DOUBLE)"
    return (
        f"CASE WHEN ISNAN({expr}) OR ISINF({expr}) THEN ({expr}) "
        f"WHEN ({expr}) = 0 THEN 0.0 "
        f"WHEN ABS({expr}) < 1e-300 THEN ({expr}) "
        f"ELSE FLOOR(({expr}) * {scale} + 0.5) / {scale} END"
    )


def stable_round(c: Column, digits: int = SIG_DIGITS, decimals: int = 4) -> Column:
    """One fused floor-round at ``scale = 10^min(digits-1-e, decimals)``:
    the emission form for unbounded-magnitude double aggregates — the
    significant-digit grid for |x| ≥ 1, the plain decimal grid for
    |x| < 1 (where ``decimals`` is the finer bound anyway).

    Fused rather than sequential sig-then-decimal: a composed
    ``when(...)`` chain repeats the aggregate child ~20× and its
    whole-stage-codegen compile cost showed up as ~+2 s cold on the
    12-metric agg_global_stats plan; this form references the child 5×.
    The scaled mantissa stays in [10^(digits-1), 10^digits) for |x| ≥ 1
    and below 10^decimals for |x| < 1, so Spark's BIGINT-typed floor
    cannot overflow at any input magnitude."""
    e = F.floor(F.log10(F.abs(c))).cast("double")
    p = F.least(F.lit(float(digits - 1)) - e, F.lit(float(decimals)))
    scale = _exp10(p)
    return (
        F.when(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), c)
        .when(c == 0, F.lit(0.0))
        .otherwise(_floor_half_up(c * scale) / scale)
    )


def stable_round_sql(expr: str, digits: int = SIG_DIGITS, decimals: int = 4) -> str:
    """DuckDB twin of :func:`stable_round` — the same IEEE op sequence."""
    e = f"FLOOR(LOG10(ABS({expr})))"
    scale = (
        f"CAST('1e' || CAST(LEAST({float(digits - 1)} - {e}, {float(decimals)}) "
        f"AS INT) AS DOUBLE)"
    )
    return (
        f"CASE WHEN ISNAN({expr}) OR ISINF({expr}) THEN ({expr}) "
        f"WHEN ({expr}) = 0 THEN 0.0 "
        f"ELSE FLOOR(({expr}) * {scale} + 0.5) / {scale} END"
    )


def grid_snap(c: Column, decimals: int = 4) -> Column:
    """Per-ROW decimal-grid snap in pure IEEE ops — the engine-ROUND-free
    form of ``ROUND(c, decimals)``.

    Engine ROUND is the divergence: Spark rounds HALF_UP on the SHORTEST
    DECIMAL REPR of the double while DuckDB rounds the BINARY value, so a
    row whose repr ends ``...5`` at the grid position flips per engine
    (the round-4 ``filter_quality_rules`` flake — a quality_score within
    an ulp of its 0.30 threshold counted differently per environment).
    ``FLOOR(x·s + 0.5)/s`` is multiply+add+floor+divide, each exactly
    specified by IEEE 754, so identical input doubles give identical
    output doubles on any engine/version. Domain: |c| < ~9e14/10^decimals
    (Spark's BIGINT floor must not overflow); NULL propagates; NaN/±Inf
    pass through unchanged.
    """
    s = F.lit(float(10**decimals))
    return F.when(
        F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), c
    ).otherwise(_floor_half_up(c * s) / s)


def grid_snap_sql(expr: str, decimals: int = 4) -> str:
    """DuckDB twin of :func:`grid_snap` — the same IEEE op sequence."""
    s = float(10**decimals)
    return (
        f"CASE WHEN ISNAN({expr}) OR ISINF({expr}) THEN ({expr}) "
        f"ELSE FLOOR(({expr}) * {s} + 0.5) / {s} END"
    )


def dec_domain_limit(grid_decimals: int = 4) -> float:
    """Largest |row value| the exact-decimal path accepts: one decimal
    digit of margin under DECIMAL(18, g)'s 10^(18-g) integer capacity —
    also safely inside grid_snap's BIGINT-floor domain. Rows at or above
    this limit are treated like non-finites (poisoned to NaN), because the
    alternative under Spark 4's ANSI-on default is a hard CAST_OVERFLOW
    error (and with ANSI off, a silently dropped row — a wrong answer)."""
    return 10.0 ** (17 - grid_decimals)


def _dec_bad(c: Column, grid_decimals: int) -> Column:
    """Rows the decimal grid cannot hold: non-finite or out-of-domain.
    ``abs(c) >= limit`` is True for +/-Inf too, so one predicate covers
    everything except NaN (which compares false and needs isnan)."""
    return F.isnan(c) | (F.abs(c) >= F.lit(dec_domain_limit(grid_decimals)))


def dec_scaled(c: Column, grid_decimals: int = 4) -> Column:
    """Per-row exact term: snap to the 10^-g grid (IEEE floor form),
    NULL out rows the grid cannot hold (:func:`_dec_bad`), and hold the
    SCALED INTEGER value·10^g in DECIMAL(18,0). The per-row term of every
    exact-moment accumulator — grid/precision fixes belong here only.
    ``floor(x·10^g + 0.5)`` is Spark's BIGINT-typed floor, and the
    long→decimal(18,0) cast is a compact-representation no-op, so the
    whole term stays in Tungsten-native long arithmetic (measured 4-6×
    faster than a double→DECIMAL(18,g) cast chain). Sums of these terms
    are exact integers — associative, mergeable, order-free; the sum
    buffer DECIMAL(28,0) holds value·10^g mass, and squares peak at 10^34
    per row under the 10^(17-g) domain limit.

    Conversion contract (mirrored EXACTLY in the SQL twins): the emitted
    double is ``CAST(sum AS DOUBLE) / 10^g`` — decimal→double once
    (correctly rounded), then one IEEE division by the exact power-of-ten
    double (exact for g ≤ 22). Both engines run this same two-step
    sequence, so the bits agree.

    The when-guard also keeps ANSI's long-typed floor from ever seeing
    |x·10^g| ≥ 2^63: the domain limit caps it at 10^17."""
    snapped = _floor_half_up(c * F.lit(float(10**grid_decimals)))
    return F.when(~_dec_bad(c, grid_decimals), snapped).cast("decimal(18,0)")


def dec_scaled_sql(expr: str, grid_decimals: int = 4) -> str:
    """DuckDB twin of :func:`dec_scaled`: the same IEEE snap, cast to
    DECIMAL(19,0) (the engine-widest exact integer form whose pairwise
    products stay inside DuckDB's 38-digit cap — BIGINT×BIGINT would
    hard-error on squares). DuckDB's FLOOR(double) is an integral double;
    the decimal cast takes it exactly."""
    bad = _dec_bad_sql(expr, grid_decimals)
    scale = f"CAST('1e{grid_decimals}' AS DOUBLE)"
    return (
        f"CASE WHEN NOT ({bad}) "
        f"THEN CAST(FLOOR(({expr}) * {scale} + 0.5) AS DECIMAL(19,0)) END"
    )


def dec_poison(c: Column, grid_decimals: int = 4) -> Column:
    """Aggregate poison flag: NaN if the group saw any row the decimal
    grid cannot hold (NaN/Inf/out-of-domain), else 0.0; NULL on an empty
    group. Combine with the core via :func:`poisoned`."""
    return F.max(
        F.when(_dec_bad(c, grid_decimals), F.lit(float("nan"))).otherwise(F.lit(0.0))
    )


def _underflow_limit(grid_decimals: int) -> float:
    """Half a grid step: a row with 0 < |x| < this snaps to 0 on the grid,
    contributing NOTHING to the exact-decimal sum."""
    return 0.5 * 10.0 ** (-grid_decimals)


def underflow_count(c: Column, grid_decimals: int = 4) -> Column:
    """Aggregate count of rows that underflow the grid (nonzero yet below
    half a grid step) — the mergeable partial behind
    :func:`underflow_poison`; rolling recombination sums these per-bucket
    partials over its window before applying the majority test."""
    lim = F.lit(_underflow_limit(grid_decimals))
    return F.sum(((c != F.lit(0.0)) & (F.abs(c) < lim)).cast("long"))


def underflow_count_sql(expr: str, grid_decimals: int = 4) -> str:
    """DuckDB twin of :func:`underflow_count`."""
    lim = repr(_underflow_limit(grid_decimals))
    return (
        f"SUM(CASE WHEN ({expr}) <> 0 AND ABS({expr}) < {lim} "
        f"THEN 1 ELSE 0 END)"
    )


def underflow_poison(c: Column, grid_decimals: int = 4) -> Column:
    """The SMALL-magnitude footgun guard (r6 VERDICT "what's wrong" #1):
    the grid snap quantizes every row BEFORE summing, so data whose
    magnitude sits below half a grid step (probabilities/rates at the
    default g=4) snaps to 0 row by row and the aggregate comes out
    arbitrarily wrong — consistently on BOTH engines, structurally
    invisible to the oracle. This sentinel counts non-null rows that are
    nonzero yet below half a grid step and poisons the group to NaN (loud)
    when they are the MAJORITY: at that point the grid is plainly wrong
    for the column's magnitude and the caller must raise
    ``moment_grid_decimals``. A minority of sub-grid rows keeps the
    aggregate (their total contribution is bounded by n/2 half-steps —
    negligible against a majority of on-grid rows). Pure integer
    comparisons over identically-evaluated predicates, so Spark and the
    DuckDB twin poison the same groups. NaN rows never count (NaN < lim is
    false on both engines; dec_poison already NaNs them); 0.0 on a clean
    or all-null group; NULL on an empty one — add to the dec_poison flag
    and apply via :func:`poisoned`."""
    uf = underflow_count(c, grid_decimals)
    return F.when(uf * 2 > F.count(c), F.lit(float("nan"))).otherwise(F.lit(0.0))


def underflow_poison_sql(expr: str, grid_decimals: int = 4) -> str:
    """DuckDB twin of :func:`underflow_poison` — same predicates, same
    integer-majority comparison. (SUM CASE yields 0 where Spark's summed
    NULL-boolean cast yields NULL on all-null groups; both sides then
    resolve the poison to 0.0, so the emitted flag agrees.)"""
    uf = underflow_count_sql(expr, grid_decimals)
    return (
        f"CASE WHEN {uf} * 2 > COUNT({expr}) "
        f"THEN CAST('NaN' AS DOUBLE) ELSE 0.0 END"
    )


def poisoned(core: Column, poison: Column) -> Column:
    """NaN-poison application that survives the all-bad-rows group: the
    naive ``core + poison`` yields NULL there (SUM over all-NULL decimals
    is NULL, and NULL + NaN = NULL), silently un-poisoning the group."""
    return F.when(F.isnan(poison), poison).otherwise(core + poison)


def _dec_bad_sql(expr: str, grid_decimals: int) -> str:
    return f"(ISNAN({expr}) OR ABS({expr}) >= {dec_domain_limit(grid_decimals)!r})"


def dec_poison_sql(expr: str, grid_decimals: int = 4) -> str:
    return (
        f"MAX(CASE WHEN {_dec_bad_sql(expr, grid_decimals)} "
        f"THEN CAST('NaN' AS DOUBLE) ELSE 0.0 END)"
    )


def poisoned_sql(core: str, poison: str) -> str:
    return f"CASE WHEN ISNAN({poison}) THEN ({poison}) ELSE ({core}) + ({poison}) END"


def dec_sum(
    c: Column, grid_decimals: int = 4, underflow_guard: bool = True
) -> Column:
    """Order-independent SUM of a double column, as a double.

    Rows are snapped to the ``grid_decimals`` grid (IEEE floor form,
    lossless for price-like data), cast to DECIMAL(18, g) and summed in
    exact integer arithmetic — associative, so partition count, merge
    order, and engine version cannot change the result; only the final
    decimal->double cast rounds (once, correctly, on both engines).
    Rows the decimal cannot hold (NaN, +/-Inf, |x| >= dec_domain_limit)
    poison the result to NaN — loud, instead of ANSI cast errors or
    silently dropped rows; callers with such domains opt out to the
    plain double sum. Groups whose rows MOSTLY underflow the grid
    (nonzero yet |x| < half a grid step — the small-magnitude footgun)
    poison too (:func:`underflow_poison`): raise ``grid_decimals`` for
    such data. All-NULL groups stay NULL.

    ``underflow_guard=False`` drops the underflow sentinel ONLY — for
    sums whose terms are LEGITIMATELY near zero by construction (e.g.
    squared differences of nearly-equal means in embedding drift, where
    "mostly sub-grid" is the expected no-drift reading, not a
    mis-sized grid). The quantization error is then bounded by
    n/2 grid half-steps; callers own documenting that bound. The
    domain/NaN poison always applies.

    r8: the core runs on the int64 grid fast path (:func:`dec_scaled` —
    same grid, Tungsten-long per-row terms, measured 4-6× the old
    double→decimal chain); the SQL twin switched in lockstep.
    """
    core = F.sum(dec_scaled(c, grid_decimals)).cast("double") / F.lit(
        float(10**grid_decimals)
    )
    flag = dec_poison(c, grid_decimals)
    if underflow_guard:
        flag = flag + underflow_poison(c, grid_decimals)
    return poisoned(core, flag)


def dec_sum_sql(
    expr: str, grid_decimals: int = 4, underflow_guard: bool = True
) -> str:
    """DuckDB twin of :func:`dec_sum` (incl. the ``underflow_guard``
    opt-out)."""
    core = (
        f"CAST(SUM({dec_scaled_sql(expr, grid_decimals)}) AS DOUBLE) / "
        f"CAST('1e{grid_decimals}' AS DOUBLE)"
    )
    flag = f"({dec_poison_sql(expr, grid_decimals)})"
    if underflow_guard:
        flag += f" + ({underflow_poison_sql(expr, grid_decimals)})"
    return f"({poisoned_sql(core, flag)})"


def dec_var(c: Column, grid_decimals: int = 4) -> Column:
    """Order-independent SAMPLE VARIANCE of a double column, as a double:
    exact-decimal moments (dec_scaled), NaN-poisoned (dec_poison/poisoned),
    NULL for n < 2, clamped at 0 against catastrophic cancellation (a
    constant column's exact moments still cancel to ~-1e-24 in the final
    double subtraction, and DuckDB's SQRT(negative) downstream is a hard
    error). The standalone form of the variance the aggregation compiler
    inlines (aggregation.py shares its s1/s2/poison terms across several
    metrics in one agg, so it keeps its own wiring; every OTHER call site
    should use this)."""
    dec = dec_scaled(c, grid_decimals)
    g1 = F.lit(float(10**grid_decimals))
    g2 = F.lit(float(10 ** (2 * grid_decimals)))
    nn = F.count(c).cast("double")
    s1 = F.sum(dec).cast("double") / g1
    s2 = F.sum(dec * dec).cast("double") / g2
    var = F.greatest(
        (s2 - s1 * s1 / nn) / (nn - F.lit(1.0)), F.lit(0.0)
    )
    core = F.when(F.count(c) > 1, var)
    flag = dec_poison(c, grid_decimals) + underflow_poison(c, grid_decimals)
    return poisoned(core, flag)


def dec_var_sql(expr: str, grid_decimals: int = 4) -> str:
    """DuckDB twin of :func:`dec_var`."""
    dec = dec_scaled_sql(expr, grid_decimals)
    g1 = f"CAST('1e{grid_decimals}' AS DOUBLE)"
    g2 = f"CAST('1e{2 * grid_decimals}' AS DOUBLE)"
    nn = f"CAST(COUNT({expr}) AS DOUBLE)"
    s1 = f"(CAST(SUM({dec}) AS DOUBLE) / {g1})"
    s2 = f"(CAST(SUM(({dec}) * ({dec})) AS DOUBLE) / {g2})"
    var = f"GREATEST(({s2} - {s1} * {s1} / {nn}) / ({nn} - 1.0), 0.0)"
    core = f"CASE WHEN COUNT({expr}) > 1 THEN {var} END"
    flag = (
        f"({dec_poison_sql(expr, grid_decimals)}) + "
        f"({underflow_poison_sql(expr, grid_decimals)})"
    )
    return f"({poisoned_sql(core, flag)})"


# ---------------------------------------------------------------------------
# Cross-engine cosine: engine cos() differs between JVM Math.cos (allowed
# 1 ulp) and libm (typically correctly rounded) — the same class of
# divergence that banned pow (see _exp10). Metrics that need a cosine
# (random-Fourier-feature MMD) therefore DEFINE it as this fixed
# range-reduced even Taylor polynomial: identical double literals +
# identical IEEE add/mul/floor sequences ⇒ bit-identical on Spark and
# DuckDB. |poly_cos − cos| < 1e-10 on the reduced range (next Taylor term
# π²²/22! ≈ 8e-11) — irrelevant for a drift statistic, which this
# polynomial *is*.
# ---------------------------------------------------------------------------

_TWO_PI = 6.283185307179586  # repr(2*math.pi): shortest round-trip double

# (-1)^k / (2k)! for k = 0..10 — cos(r) = Σ c_k (r²)^k, |r| ≤ π
_COS_COEFFS = [
    1.0,
    -0.5,
    0.041666666666666664,
    -0.001388888888888889,
    2.48015873015873e-05,
    -2.755731922398589e-07,
    2.08767569878681e-09,
    -1.1470745597729725e-11,
    4.779477332387385e-14,
    -1.5619206968586225e-16,
    4.110317623312165e-19,
]


def poly_cos(c: Column) -> Column:
    """Shared-polynomial cosine of a double column (see module note).
    Range-reduce to [-π, π] via r = c − 2π·floor(c/2π + 0.5) (Spark's
    BIGINT floor cast back to double — exact below 2⁵³), then Horner in
    r². Pass a PLAIN column reference: the expression tree duplicates its
    input ~20× (no CSE inside one projection) — cheap for a column ref,
    pathological for a nested aggregate."""
    two_pi = F.lit(_TWO_PI)
    k = F.floor(c / two_pi + F.lit(0.5)).cast("double")
    r = c - two_pi * k
    r2 = r * r
    acc = F.lit(_COS_COEFFS[-1])
    for co in reversed(_COS_COEFFS[:-1]):
        acc = acc * r2 + F.lit(co)
    return acc


def dlit(x: float) -> str:
    """A double literal DuckDB actually types as DOUBLE: a bare
    ``6.283185307179586`` parses as DECIMAL(16,15) there, and decimal
    arithmetic then rounds DIFFERENTLY from the double ops Spark runs
    (caught live in poly_cos range reduction: 8-ulp divergence through
    cancellation). String→double conversion is correctly rounded by spec
    on both engines (the _exp10 lesson), so every inexact literal goes
    through it. Exact-in-decimal literals (0.5, powers of ten) don't need
    this."""
    return f"CAST('{x!r}' AS DOUBLE)"


def poly_cos_sql(expr: str) -> str:
    """DuckDB twin of :func:`poly_cos` — the identical literal/op
    sequence (DuckDB FLOOR(double) is already an integral double, which
    equals Spark's long-floor-cast bit-for-bit; all inexact literals are
    string-parsed doubles, see :func:`dlit`). Pass a plain column
    name: the string embeds ``expr`` ~20×."""
    two_pi = dlit(_TWO_PI)
    k = f"FLOOR(({expr}) / {two_pi} + 0.5)"
    r = f"(({expr}) - {two_pi} * {k})"
    r2 = f"({r} * {r})"
    acc = dlit(_COS_COEFFS[-1])
    for co in reversed(_COS_COEFFS[:-1]):
        acc = f"(({acc}) * {r2} + {dlit(co)})"
    return acc
