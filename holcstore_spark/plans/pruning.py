"""Pruning derivation: time bounds and key filters → manifest file skipping.

The reference turns time bounds into ``chunk_index__gte/__lte`` range
predicates so the b-tree skips chunks (chunk_timeserie_store.py:855-861).
Here ``chunk_index`` is a regular column of immutable files governed by
the transaction log, whose manifest keeps per-file chunk and key
min/max. This module derives the inputs of the one file-skipping rule,
:func:`holcstore_spark.sources.txlog.may_hold` (the ``Snapshot`` list
form is ``entries_may_hold``): the chunk range of a time window, and
:func:`key_equality_values`, the per-key candidate sets of a filter
dict — the property that keeps a point read cheap on a 100 TB table.
The predicates are also re-applied in-plan, where Parquet row-group
statistics skip the rest.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from holcstore_spark.functions.scalar import chunk_index_of


def normalize_bound(bound, tz: str) -> pd.Timestamp | None:
    """Accept str / datetime / pd.Timestamp / None / NaT in any tz and
    return a UTC instant (reference: chunk_timeserie_store.py:845-853)."""
    if bound is None or (isinstance(bound, float) and pd.isna(bound)):
        return None
    ts = pd.Timestamp(bound)
    if pd.isna(ts):
        return None
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz)
    return ts.tz_convert("UTC")


def chunk_bounds_filter(
    start: pd.Timestamp | None,
    end: pd.Timestamp | None,
    chunk_axis: tuple[str, ...],
    tz: str,
    chunk_col: str = "chunk_index",
) -> Column:
    """``chunk_index`` range predicate for a time window (re-applied
    in-plan after manifest file skipping)."""
    pred = F.lit(True)
    if start is not None:
        pred = pred & (F.col(chunk_col) >= chunk_index_of(start, chunk_axis, tz))
    if end is not None:
        pred = pred & (F.col(chunk_col) <= chunk_index_of(end, chunk_axis, tz))
    return pred


def key_equality_values(filters: dict | None) -> dict[str, list]:
    """Per-field finite candidate sets implied by a filter dict — the
    input to MANIFEST KEY-STATS FILE SKIPPING (the key-column analogue
    of the chunk-range skipping above). Only plain equality and ``__in``
    constrain a field to a finite set; any other lookup on the same
    field is conjunctive and can only shrink it further, so the set
    stays a correct over-approximation. Fields constrained to ``None``
    (or an ``__in`` containing it) are omitted entirely: parquet min/max
    statistics ignore nulls, so no stats range can prove a null row
    absent. Multiple finite constraints on one field intersect."""
    out: dict[str, list] = {}
    for k, v in (filters or {}).items():
        field, _, lookup = k.partition("__")
        if not lookup:
            vals = [v]
        elif lookup == "in":
            # only re-readable containers: a one-shot iterator/generator
            # must reach attrs_filter unconsumed (reading it here would
            # leave the in-plan predicate an empty isin()) — skip
            # pruning on it instead
            if not isinstance(v, (list, tuple, set, frozenset)):
                continue
            vals = list(v)
        else:
            continue
        if any(x is None for x in vals):
            out[field] = []  # sentinel: never prunable on this field
            continue
        if field in out:
            if not out[field]:
                continue
            out[field] = [x for x in out[field] if x in vals]
        else:
            out[field] = vals
    return {f: vals for f, vals in out.items() if vals}
