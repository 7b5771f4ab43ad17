"""Branch — split a stream by ordered predicates, first-match-wins.

Ref: kstream/branch/branch.go:9-155.  The splitter iterates predicates in
declaration order and ``break``s after the first match (lines 74-80), so a
record reaches AT MOST ONE branch; records matching nothing are dropped.

Spark-first: branch_i = df.filter(p_i AND NOT p_1 ... AND NOT p_{i-1}).
Each branch is independent DataFrame lineage off the same scan; Catalyst
pushes the combined predicate to the source, and if several branches feed one
job the scan is shared (or explicitly ``.cache()`` upstream).  No driver-side
routing, no shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column

from kstream_spark.functions import to_col


def branch(stream, branches: Sequence[tuple[str, Column | str]]) -> dict:
    out = {}
    prior = None
    for name, pred in branches:
        p = to_col(pred)
        excl = p if prior is None else (p & ~prior)
        out[name] = stream._derive(stream.df.filter(excl), name=name)
        prior = p if prior is None else (prior | p)
    return out
