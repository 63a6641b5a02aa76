"""Filter-dict → Column translation.

The reference's whole query surface is attrs/filters dicts fed to the Django
ORM — conjunctive equality plus a small ``__lookup`` dialect
(reference: chunk_timeserie_store.py:889-899, hostore.py:241,292).
Here the same dialect compiles to a single Catalyst predicate, so it is
pushed down to the Parquet scan, or to one pyarrow expression for the
driver-side scans of the metadata-sized paths (:func:`arrow_filter`).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

_LOOKUPS = {
    "gte": operator.ge,
    "gt": operator.gt,
    "lte": operator.le,
    "lt": operator.lt,
}


def lookup_filter(key: str, value) -> Column:
    """One ``field[__lookup]`` pair → Column predicate."""
    field, _, lookup = key.partition("__")
    col = F.col(field)
    if not lookup:
        return col.isNull() if value is None else (col == F.lit(value))
    if lookup in _LOOKUPS:
        return _LOOKUPS[lookup](col, F.lit(value))
    if lookup == "in":
        return col.isin(list(value))
    if lookup == "isnull":
        return col.isNull() if value else col.isNotNull()
    if lookup == "ne":
        return col != F.lit(value)
    if lookup == "contains":
        return col.contains(value)
    if lookup == "startswith":
        return col.startswith(value)
    if lookup == "mod":
        # engine extension (not in the reference dialect): value is
        # ``(divisor, remainder)`` — selects rows where
        # ``field % divisor == remainder``. The scale-safe way to
        # address a deterministic key cohort (e.g. delete every 7th
        # user) without first collecting the key catalog to the driver
        # to build an ``__in`` list.
        divisor, remainder = value
        return (col % F.lit(int(divisor))) == F.lit(int(remainder))
    raise ValueError(f"unsupported lookup: {key!r}")


def attrs_filter(attrs: dict | None) -> Column:
    """AND of per-key predicates; empty/None → lit(True)."""
    if not attrs:
        return F.lit(True)
    return reduce(operator.and_, (lookup_filter(k, v) for k, v in attrs.items()))


def arrow_lookup_filter(key: str, value):
    """One ``field[__lookup]`` pair → pyarrow dataset expression, with the
    row semantics of :func:`lookup_filter` on Spark: a null never
    matches a comparison, ``contains``/``startswith`` compare the
    field's string form, and ``mod`` keeps the dividend's sign, as
    Spark's ``%`` does (Arrow integer division truncates toward zero)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    field, _, lookup = key.partition("__")
    col = pc.field(field)
    if not lookup:
        return col.is_null() if value is None else (col == value)
    if lookup in _LOOKUPS:
        return _LOOKUPS[lookup](col, value)
    if lookup == "in":
        # SQL IN: a null member never matches, a null field never does
        return col.isin([v for v in value if v is not None])
    if lookup == "isnull":
        return col.is_null() if value else col.is_valid()
    if lookup == "ne":
        return col != value
    if lookup == "contains":
        return pc.match_substring(col.cast(pa.string()), str(value))
    if lookup == "startswith":
        return pc.starts_with(col.cast(pa.string()), str(value))
    if lookup == "mod":
        divisor, remainder = int(value[0]), int(value[1])
        rem = pc.subtract(col, pc.multiply(pc.divide(col, divisor), divisor))
        return rem == remainder
    raise ValueError(f"unsupported lookup: {key!r}")


def arrow_filter(attrs: dict | None):
    """pyarrow twin of :func:`attrs_filter` for driver-side scans of the
    store's files: AND of per-key expressions; empty/None → None (no
    filter)."""
    if not attrs:
        return None
    return reduce(
        operator.and_, (arrow_lookup_filter(k, v) for k, v in attrs.items())
    )


def validate_filter_keys(filters: dict | None, allowed: tuple[str, ...]) -> None:
    """Reject lookups on columns that are not store keys
    (reference: chunk_timeserie_store.py:889-899)."""
    for k in filters or {}:
        field = k.partition("__")[0]
        if field not in allowed:
            raise ValueError(
                f"unknown filter field {field!r}; store keys are {list(allowed)}"
            )


def order_cols(order_by: tuple[str, ...]) -> list[Column]:
    """Django-style ordering dialect: '-col' → desc
    (reference: hostore.py:241,292 default ('-version',))."""
    out = []
    for spec in order_by:
        if spec.startswith("-"):
            out.append(F.col(spec[1:]).desc())
        else:
            out.append(F.col(spec).asc())
    return out
