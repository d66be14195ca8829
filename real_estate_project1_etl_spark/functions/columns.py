"""Column-expression primitives shared by every operator family.

Each concept here has exactly one definition; operators import it instead
of spelling the expression inline (tests/test_structure.py enforces that).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable.

    Interpreted higher-order functions re-evaluate any OUTER expression
    their lambda references once per array element — a lambda like
    ``i -> concat_ws(' ', slice(w, i, n))`` re-runs the whole
    lower/collapse/split chain that produces ``w`` for every gram,
    turning an O(words) projection into O(words^2) per document
    (measured: the minhash signature build over sf0.1 documents dropped
    3.7 -> 0.6 s when the re-evaluation was removed; the winnowing
    chain, which stacked two such lambdas, dropped ~50x).  Catalyst's
    CollapseProject has the same effect on a composed column function
    that references one component N times (the URL canonicalizer's
    percent-normalize tree ran ~10x per row).  Lambda VARIABLES, by
    contrast, are evaluated values — so wrapping the expensive expression
    in a single-element array and binding it via ``transform`` makes the
    inner lambda reference a value, with construction semantics otherwise
    IDENTICAL to the unbound form.
    """
    return F.element_at(F.transform(F.array(value), fn), 1)


def md5_60(v: Column | str) -> Column:
    """First 15 hex chars of ``md5(cast(v AS string))`` as a non-negative
    60-bit long — bit-identical in any engine with md5 (DuckDB:
    ``('0x' || substr(md5(v), 1, 15))::BIGINT``), which is what lets the
    signature, sketch, sampler and feature-hash operators be checked
    value-for-value against an oracle.  The cast is a no-op for string
    input (Catalyst drops it)."""
    c = F.col(v) if isinstance(v, str) else v
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
