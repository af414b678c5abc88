"""SQL text for literal constants baked into parsed expressions.

A table of n doubles built as ``F.array(*[F.lit(v) ...])`` costs n py4j
round trips per plan; the same table as one SQL string parsed by
``F.expr`` costs one and yields the same literal array after constant
folding.
"""

from __future__ import annotations


def double_array_sql(values) -> str:
    """``array(...)`` of exactly these doubles, as SQL text."""
    # string→double cast: Double.parseDouble round-trips repr(float) exactly
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + ")"
