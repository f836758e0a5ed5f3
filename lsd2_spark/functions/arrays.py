"""Array-expression helpers."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    A higher-order function re-evaluates every non-lambda expression
    it closes over once per element, so a per-position lambda over
    ``split(lower(text))`` re-splits the whole document at every
    position: quadratic in document length (30 documents of 8,000
    words took 132 s for one n-gram pass on 4 cores; bound once, 1 s).
    Binding the value as the argument of a one-element ``transform``
    evaluates it once; the lambda variable is then a plain reference.
    """
    return F.transform(F.array(value), body)[0]
