from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, body) -> Column:
    """`body(v)` with `value` bound once as the lambda variable v. A
    Column captured inside a higher-order-function lambda is evaluated
    again for every array element; a bound variable is evaluated once."""
    return F.element_at(F.transform(F.array(value), body), 1)


# --- cross-engine rules: a Column builder and its DuckDB twin, side by side --
# Each `*_sql` twin returns the DuckDB SQL text the oracles paste in; a
# rule changes in both functions of its pair or in neither.


def md5_bucket(col: Column, salt: str = "") -> Column:
    """First 8 md5 hex digits as BIGINT (< 2^32), optionally salted.
    DuckDB twin: md5_bucket_sql."""
    s = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def md5_bucket_sql(x: str, salt: str = "") -> str:
    """DuckDB twin of md5_bucket over the SQL expression `x`. A salt
    computed per row (not a literal) belongs inside `x`."""
    s = "'" + salt.replace("'", "''") + "' || " + x if salt else x
    return f"CAST(('0x' || substr(md5({s}), 1, 8)) AS BIGINT)"


def cents(c: Column | str) -> Column:
    """Money double → exact integer cents via floor(x·100 + 0.5). For
    POSITIVE inputs this is the same HALF_UP rounding as cast(double AS
    decimal(p,2)); the fixture's money columns are doubles nearest to
    2dp values, so ×100 lands within 1 ulp of the integer and floor(+0.5)
    recovers it exactly. DuckDB twin: cents_sql.

    Sign note (ADVICE r12): for NEGATIVE inputs floor(x+0.5) rounds
    half toward +infinity, which diverges from decimal-cast HALF_UP
    (half away from zero) at exact .5 boundaries. That divergence is
    from DECIMAL-CAST semantics, not from the oracles: every consuming
    query's DuckDB oracle computes the IDENTICAL floor(x·100 + 0.5)
    expression through cents_sql, so engine/oracle parity holds for
    ANY sign — which is why events.value (sign-unconstrained by schema)
    may flow through here. Do NOT "fix" the
    rounding one-sided: switching either side alone to sign-aware
    rounding breaks bit-parity at ties."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 100 + F.lit(0.5)).cast("bigint")


def cents_sql(x: str) -> str:
    """DuckDB twin of cents over the SQL expression `x`."""
    return f"CAST(floor({x} * 100 + 0.5) AS BIGINT)"


def units_to_double(c: Column | str, k: int) -> Column:
    """decimal(38,0) unit total → the correctly rounded DOUBLE of
    total·10^-k — the same value DuckDB's cast(sum(decimal) AS DOUBLE)
    produces at every gated SF. Boundary (measured at the sf1 trend
    fixture): once unit totals exceed 2^53, DuckDB's decimal→double
    cast can land 1 ulp off the correctly rounded value while this
    path stays exact (verified against Fraction-exact conversion for
    the observed case, 50777888124.4205 vs DuckDB's …420494); at the
    driver-gated scales totals are « 2^53 and both sides convert
    exactly."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        col.cast(f"decimal(38,{k})")
        / F.lit(10**k).cast(f"decimal({k + 1},0)")
    ).cast("double")


from . import text, vector  # noqa: E402,F401
