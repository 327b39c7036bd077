"""Array literals built in one driver→JVM call.

PySpark's ``F.lit(list)`` is ``F.array(*[F.lit(x) for x in list])``:
one py4j round trip per element.  For the bloom bitmap's 2 048 words
that is 0.7-0.9 s of driver time (4-vCPU host), spent before the job
starts.  ``lit_array`` sends one SQL expression string
instead; the optimizer folds it to the same single array ``Literal``
the per-element path folds to, with identical element values.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_LONG_MIN = -(1 << 63)


def _sql_double(v) -> str:
    # repr is Python's shortest round-trip form and the JVM parses
    # double literals exactly: the identical IEEE double lit() sends
    return repr(float(v)) + "D"


def _sql_bigint(v) -> str:
    # Long.MIN_VALUE has no positive twin to negate in SQL
    return "(-9223372036854775807L - 1L)" if v == _LONG_MIN else f"{int(v)}L"


_RENDER = {"double": _sql_double, "bigint": _sql_bigint}


def lit_array(vals, element_type: str = "double") -> Column:
    """``array<double>`` (default) or ``array<bigint>`` literal of
    ``vals`` as ONE parsed expression.  Non-finite doubles have no SQL
    literal form; an array holding one takes the per-element ``lit()``
    path."""
    render = _RENDER[element_type]
    if element_type == "double" and not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(float(v)) for v in vals])
    return F.expr("array(" + ",".join(render(v) for v in vals) + ")")
