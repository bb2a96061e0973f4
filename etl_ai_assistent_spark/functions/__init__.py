from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, body) -> Column:
    """`body(v)` with `value` bound once as the lambda variable v. A
    Column captured inside a higher-order-function lambda is evaluated
    again for every array element; a bound variable is evaluated once."""
    return F.element_at(F.transform(F.array(value), body), 1)


from . import text, vector  # noqa: E402,F401
