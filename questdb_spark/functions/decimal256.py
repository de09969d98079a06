"""DECIMAL128/DECIMAL256 arithmetic beyond Spark's 38-digit cap.

Reference: ``cairo/ColumnType.java:104-135`` — QuestDB stores decimals in
8..256-bit widths (``DECIMAL256`` = 76 significant digits); its
``griffin/engine/functions/decimal/`` package does exact +/-/cmp/sum on
them. Spark's ``DecimalType`` stops at precision 38, so wider values are
emulated here as a **little-endian struct of four base-10¹⁸ limbs**
(``l0`` least significant), each limb a non-negative LONG < 10¹⁸ — 72
significant digits, covering the reference's DECIMAL256 integer range for
analytics (sums of monetary values at precisions 38 can exceed 38 digits
long before 72).

Why base 10¹⁸ / LONG limbs:

- carry detection is plain integer compare (limb ≥ 10¹⁸), no bit tricks;
- a group SUM first widens each limb to ``decimal(38,0)`` — exact for up
  to 10²⁰ rows — then a single carry-ripple renormalizes, so the whole
  aggregate is ONE map-side-combinable hash aggregate with four partial
  sums: the same shuffle shape as ``sum(long)``, no UDF/UDAF anywhere;
- every operation is expressible identically in DuckDB (HUGEINT limbs),
  which is what makes the ``decimal256_sum`` registry entry
  oracle-verifiable.

Scope: non-negative magnitudes with exact add / subtract (borrow ripple,
``a >= b`` required — signed values would wrap a sign flag around the
magnitude struct) / multiply (limb convolution; partial products up to
10³⁶ stay exact inside ``decimal(38,0)``) / carry-normalized SUM /
compare / string round-trip / divide-by-long (schoolbook limb long
division, most-significant limb first) / decimal rescale (divide by 10^k
with HALF_UP rounding — the reference's decimal rescale semantics,
``griffin/engine/functions/math/`` decimal families). Wide ÷ wide is
deliberately out: the reference's decimal division is scalar-divisor in
practice, and a general multiword quotient needs trial-digit loops that
have no clean columnar form — documented limitation, not silent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LIMB = 10**18
N_LIMBS = 4
FIELDS = [f"l{i}" for i in range(N_LIMBS)]


def wide(*limbs: Column | int) -> Column:
    """Build a wide decimal from ≤4 little-endian base-10¹⁸ limbs
    (ints or long Columns); missing high limbs are zero."""
    if len(limbs) > N_LIMBS:
        raise ValueError(f"at most {N_LIMBS} limbs")
    cols = [
        (F.lit(x) if isinstance(x, int) else x).cast("long").alias(FIELDS[i])
        for i, x in enumerate(limbs)
    ]
    cols += [F.lit(0).cast("long").alias(FIELDS[i]) for i in range(len(limbs), N_LIMBS)]
    return F.struct(*cols)


def _ripple(limbs: list[Column]) -> Column:
    """Carry-normalize: limb i keeps value % 10¹⁸, carry goes to limb i+1.
    Inputs may be any exact numeric (long or decimal(38,0) partial sums);
    output limbs are LONG < 10¹⁸. The carry is (acc − acc%10¹⁸)/10¹⁸ —
    exactly integral before the division, so Spark's round-on-decimal-cast
    can never perturb it (a plain acc/10¹⁸ cast would ROUND, corrupting
    carries near limb boundaries). Overflow past limb 3 raises via ANSI
    long cast rather than wrapping silently."""
    out, carry = [], F.lit(0).cast("decimal(38,0)")
    for i, l in enumerate(limbs):
        acc = l.cast("decimal(38,0)") + carry
        rem = acc % F.lit(LIMB)
        out.append(rem.cast("long").alias(FIELDS[i]))
        carry = ((acc - rem) / F.lit(LIMB)).cast("decimal(38,0)")
    return F.struct(*out)


def add(a: Column, b: Column) -> Column:
    """Exact a + b (non-negative NORMALIZED wides — limbs < 10¹⁸).

    Boolean 0/1 carry chain rather than the generic decimal ripple: with
    normalized operands each limb sum is < 2·10¹⁸ (fits LONG, carry ∈
    {0,1}), so every carry embeds its predecessor ONCE and the expression
    tree grows linearly in limb count.  The generic ``_ripple`` (needed
    for the widened SUM partials, where carries are large) re-embeds its
    accumulator multiplicatively.  Overflow out of the top limb raises
    (assert) instead of truncating."""
    return _struct(_add_limbs([a[f] for f in FIELDS], [b[f] for f in FIELDS]))


def subtract(a: Column, b: Column) -> Column:
    """Exact a − b; requires a ≥ b (use :func:`compare` to order operands
    first). Borrow ripple: limb i computes a_i − b_i − borrow_in, and lends
    itself 10¹⁸ when that goes negative — all plain LONG arithmetic."""
    out, borrow = [], F.lit(0)
    for f in FIELDS:
        raw = a[f] - b[f] - borrow
        out.append(F.when(raw < 0, raw + F.lit(LIMB)).otherwise(raw).alias(f))
        borrow = F.when(raw < 0, F.lit(1)).otherwise(F.lit(0))
    return F.struct(*out)


def multiply(a: Column, b: Column) -> Column:
    """Exact a × b; the result must fit 4 limbs (72 digits). Computes the
    FULL 7-position limb convolution in ``decimal(38,0)`` (each partial
    product l_i×l_j < 10³⁶ is exact; a position's ≤4 products plus inbound
    carry stay < 10³⁸), carry-ripples across all 7 positions, keeps the low
    4, and raises if any high limb or the final carry is nonzero — so
    overflow (including a carry OUT of limb 3, which a structural
    high-limb check would miss) always errors instead of truncating."""
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    positions: list[Column] = []
    for p in range(2 * N_LIMBS - 1):
        terms = [
            d38(a[FIELDS[i]]) * d38(b[FIELDS[p - i]])
            for i in range(N_LIMBS)
            if 0 <= p - i < N_LIMBS
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        positions.append(acc)
    rems, carry = [], F.lit(0).cast("decimal(38,0)")
    for l in positions:
        acc = l + carry
        rem = acc % F.lit(LIMB)
        rems.append(rem)
        carry = ((acc - rem) / F.lit(LIMB)).cast("decimal(38,0)")
    overflow = rems[N_LIMBS] + rems[N_LIMBS + 1] + rems[N_LIMBS + 2] + carry
    lo = F.when(overflow == 0, rems[0]).otherwise(
        F.assert_true(overflow == 0, F.lit("decimal256 multiply overflow"))
        .cast("decimal(38,0)")
    )
    return F.struct(
        *[
            r.cast("long").alias(f)
            for r, f in zip([lo, *rems[1:N_LIMBS]], FIELDS)
        ]
    )


def sum_agg(col: Column) -> list[Column]:
    """Partial aggregates for SUM over a wide column: four widened limb
    sums. Use inside ``.agg(*sum_agg(F.col('w')))`` then finish with
    ``normalized('sum_')``. Map-side combinable — one shuffle, like any
    hash aggregate."""
    return [
        F.sum(col[f].cast("decimal(38,0)")).alias(f"sum_{f}") for f in FIELDS
    ]


def normalized(prefix: str = "sum_") -> Column:
    """Carry-ripple the widened per-limb sums back into a wide struct."""
    return _ripple([F.col(prefix + f) for f in FIELDS])


# Internal limb-list plumbing.  Every GetStructField over a freshly-built
# CreateNamedStruct embeds ALL four limb subtrees at the access site, so a
# composition like to_string(add(divide_long(...))) multiplied the divide
# tree 4x at every boundary — second-scale Catalyst/codegen time per plan
# (measured before r6: decimal256_div was a scale-invariant ~30s/query).
# Composite ops therefore thread plain Python lists of limb expressions
# and wrap in a struct only at the public boundary.


def _fields(a: Column) -> list[Column]:
    return [a[f] for f in FIELDS]


def _divmod_limbs(limbs: list[Column], d: Column) -> tuple[list[Column], Column]:
    """Schoolbook base-10¹⁸ long division by a single-limb divisor:
    most-significant limb first, ``acc = rem·10¹⁸ + limb`` (< 10³⁶, exact
    in decimal(38,0)), quotient digit ``(acc − acc % d)/d`` — the
    subtract-remainder-first form keeps the decimal division exactly
    integral so Spark's round-on-cast can never perturb it. Returns
    (little-endian quotient limbs, remainder)."""
    qs: list[Column] = []
    rem = F.lit(0).cast("decimal(38,0)")
    for l in reversed(limbs):
        acc = rem * F.lit(LIMB) + l.cast("decimal(38,0)")
        r = acc % d
        qs.append(((acc - r) / d).cast("long"))
        rem = r
    qs.reverse()
    return qs, rem


def _add_limbs(a: list[Column], b: list[Column]) -> list[Column]:
    """Boolean-carry add over normalized limb lists (see :func:`add`)."""
    out: list[Column] = []
    carry: Column = F.lit(0).cast("long")
    for i, (la, lb) in enumerate(zip(a, b)):
        s = la + lb + carry
        is_c = s >= F.lit(LIMB)
        if i == N_LIMBS - 1:
            out.append(
                F.when(~is_c, s).otherwise(
                    F.assert_true(~is_c, F.lit("decimal256 add overflow")).cast("long")
                )
            )
        else:
            out.append(F.when(is_c, s - F.lit(LIMB)).otherwise(s))
        carry = F.when(is_c, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return out


def _as_divisor(d: Column | int) -> Column:
    return (F.lit(d) if isinstance(d, int) else d).cast("decimal(38,0)")


def _struct(limbs: list[Column]) -> Column:
    return F.struct(*[l.alias(f) for l, f in zip(limbs, FIELDS)])


def divide_long(a: Column, d: Column | int) -> Column:
    """Exact floor quotient ``a // d`` for a positive divisor < 10¹⁸."""
    qs, _ = _divmod_limbs(_fields(a), _as_divisor(d))
    return _struct(qs)


def mod_long(a: Column, d: Column | int) -> Column:
    """``a mod d`` (LONG) for a positive divisor < 10¹⁸."""
    _, rem = _divmod_limbs(_fields(a), _as_divisor(d))
    return rem.cast("long")


def rescale(a: Column, k: int) -> Column:
    """Divide by 10^k with HALF_UP rounding (decimal rescale semantics).

    Floor-shift: whole-limb moves for k//18, then one limb division by
    10^(k%18). HALF_UP needs only digit k-1 of ``a`` (≥5 rounds up,
    regardless of lower digits), read without any division as
    ``limb % 10^(pos+1) >= 5·10^pos``."""
    if k == 0:
        return a
    if not 0 < k < 18 * N_LIMBS:
        raise ValueError(f"rescale exponent out of range: {k}")
    m, r = divmod(k, 18)
    limbs = _fields(a)
    shifted = [
        limbs[i + m] if i + m < N_LIMBS else F.lit(0).cast("long")
        for i in range(N_LIMBS)
    ]
    floored = _divmod_limbs(shifted, _as_divisor(10**r))[0] if r else shifted
    # digit k-1 of a: limb (k-1)//18, in-limb position (k-1)%18
    dl, dp = divmod(k - 1, 18)
    round_up = (limbs[dl] % F.lit(10 ** (dp + 1))) >= F.lit(5 * 10**dp)
    bump = F.when(round_up, F.lit(1)).otherwise(F.lit(0)).cast("long")
    zero = F.lit(0).cast("long")
    return _struct(_add_limbs(floored, [bump, zero, zero, zero]))


def compare(a: Column, b: Column) -> Column:
    """-1 / 0 / 1 — big-endian lexicographic limb compare."""
    out = F.lit(0)
    for f in FIELDS:  # ascending significance: later comparisons win
        out = F.when(a[f] > b[f], 1).when(a[f] < b[f], -1).otherwise(out)
    return out


def _to_string_limbs(limbs: list[Column]) -> Column:
    s = F.concat(*[F.lpad(l.cast("string"), 18, "0") for l in reversed(limbs)])
    return F.regexp_replace(s, r"^0+(?=\d)", "")


def to_string(w: Column) -> Column:
    """Canonical digit string (no leading zeros; '0' for zero).

    The lookahead trim strips leading zeros only while another digit
    follows, so the all-zeros value keeps one '0' — ONE reference per
    limb (a when/otherwise form would re-embed the concat tree, which
    matters when ``w`` is a freshly-built composite like ``rescale``)."""
    return _to_string_limbs(_fields(w))


def divide_long_str(a: Column, d: Column | int) -> Column:
    """``to_string(divide_long(a, d))`` without the struct boundary — the
    field re-extraction over a fresh CreateNamedStruct would embed every
    quotient subtree 4x (Catalyst compile cost, not row cost)."""
    qs, _ = _divmod_limbs(_fields(a), _as_divisor(d))
    return _to_string_limbs(qs)


def rescale_str(a: Column, k: int) -> Column:
    """``to_string(rescale(a, k))`` without the struct boundary."""
    if k == 0:
        return to_string(a)
    if not 0 < k < 18 * N_LIMBS:
        raise ValueError(f"rescale exponent out of range: {k}")
    m, r = divmod(k, 18)
    limbs = _fields(a)
    shifted = [
        limbs[i + m] if i + m < N_LIMBS else F.lit(0).cast("long")
        for i in range(N_LIMBS)
    ]
    floored = _divmod_limbs(shifted, _as_divisor(10**r))[0] if r else shifted
    dl, dp = divmod(k - 1, 18)
    round_up = (limbs[dl] % F.lit(10 ** (dp + 1))) >= F.lit(5 * 10**dp)
    bump = F.when(round_up, F.lit(1)).otherwise(F.lit(0)).cast("long")
    zero = F.lit(0).cast("long")
    return _to_string_limbs(_add_limbs(floored, [bump, zero, zero, zero]))


def from_string(s: Column) -> Column:
    """Digit string (≤72 chars, non-negative) → wide."""
    padded = F.lpad(s, 18 * N_LIMBS, "0")
    limbs = [
        F.substring(padded, 18 * (N_LIMBS - 1 - i) + 1, 18).cast("long")
        for i in range(N_LIMBS)
    ]
    return F.struct(*[l.alias(f) for l, f in zip(limbs, FIELDS)])


# -- SQL-text limb arithmetic ------------------------------------------------
#
# py4j Column-tree construction is a measured per-query build cost
# (~0.4 ms/round-trip; decimal256_div spent ~0.5 s of its 2 s building
# 1216 round-trips — r14 profiling).  These helpers render the SAME limb
# arithmetic as the Column functions above, as Spark-SQL expression
# STRINGS, so a whole query builds in one spark.sql parse.
#
# The Column-expression divmod above chains each remainder into the next
# accumulator, and every reuse of a subexpression re-embeds its whole
# tree — compile cost grows ~3^limbs per composite, which is Catalyst/
# codegen time, not row time (the r6 div registry query paid a
# scale-invariant ~7s cold / ~2s codegen-cached).  Staging each division
# step as a NAMED attribute keeps the tree linear: CollapseProject leaves
# multiply-referenced non-cheap aliases in their own projection, so the
# measured cost halves (3.4s cold / 1.0s cached, same query).

LIMB_SQL = "1000000000000000000"


def sql_staged_divmod(
    from_cte: str,
    limb_cols: list[str],
    d_sql: str,
    prefix: str,
) -> tuple[list[tuple[str, str]], list[str], str]:
    """Schoolbook base-10¹⁸ long division staging ONLY the per-step
    remainders as named CTE attributes, so each accumulator
    ``rem·10¹⁸ + limb`` and quotient digit ``(acc − r)/d`` references
    attributes only and every compiled subtree is O(1) deep.  Same
    arithmetic as :func:`_divmod_limbs`.  Returns (CTE list as
    (name, select_sql) staging each remainder over ``from_cte``,
    little-endian quotient expression strings, remainder column name).
    ``d_sql`` is the divisor expression BEFORE the decimal(38,0) cast,
    which is applied here."""
    dd = f"CAST({d_sql} AS DECIMAL(38,0))"
    ctes: list[tuple[str, str]] = []
    rem = "CAST(0 AS DECIMAL(38,0))"
    src = from_cte
    n = len(limb_cols)
    qs: list[str] = []
    for step, i in enumerate(reversed(range(n))):
        acc = f"({rem} * {LIMB_SQL} + CAST({limb_cols[i]} AS DECIMAL(38,0)))"
        r = f"{prefix}r{step}"
        name = f"{prefix}s{step}"
        ctes.append((name, f"SELECT *, {acc} % {dd} AS {r} FROM {src}"))
        rem = r
        src = name
        qs.append(f"CAST(({acc} - {r}) / {dd} AS BIGINT)")
    qs.reverse()
    return ctes, qs, f"{prefix}r{n - 1}"


def sql_add_limbs(a: list[str], b: list[str]) -> list[str]:
    """String twin of :func:`_add_limbs` (boolean-carry add, overflow
    assert on the top limb)."""
    out: list[str] = []
    carry = "CAST(0 AS BIGINT)"
    for i, (la, lb) in enumerate(zip(a, b)):
        s = f"({la} + {lb} + {carry})"
        is_c = f"{s} >= {LIMB_SQL}"
        if i == N_LIMBS - 1:
            out.append(
                f"CASE WHEN NOT ({is_c}) THEN {s} ELSE "
                f"CAST(assert_true(NOT ({is_c}), 'decimal256 add overflow')"
                f" AS BIGINT) END"
            )
        else:
            out.append(f"CASE WHEN {is_c} THEN {s} - {LIMB_SQL} ELSE {s} END")
        carry = f"CAST(CASE WHEN {is_c} THEN 1 ELSE 0 END AS BIGINT)"
    return out


def sql_ripple(limbs: list[str]) -> list[str]:
    """String twin of :func:`_ripple` (generic decimal carry ripple for
    widened SUM partials)."""
    out: list[str] = []
    carry = "CAST(0 AS DECIMAL(38,0))"
    for l in limbs:
        acc = f"(CAST({l} AS DECIMAL(38,0)) + {carry})"
        rem = f"({acc} % {LIMB_SQL})"
        out.append(f"CAST({rem} AS BIGINT)")
        carry = f"CAST((({acc} - {rem}) / {LIMB_SQL}) AS DECIMAL(38,0))"
    return out


def sql_to_string_limbs(limbs: list[str]) -> str:
    """String twin of :func:`_to_string_limbs` (canonical digit string)."""
    padded = ", ".join(
        f"lpad(CAST({l} AS STRING), 18, '0')" for l in reversed(limbs)
    )
    return f"regexp_replace(concat({padded}), '^0+(?=\\\\d)', '')"
