"""Name-resolution scope: alias -> binding.

Plays the role of the reference's PlanCtx alias map
(query_planner/plan_ctx/mod.rs:11-21,125-128: alias -> TableCtx{label,
properties, filters, projections, is_rel}), adapted to DataFrame
compilation: every entity's columns are physically renamed to
``{alias}__{column}`` at scan time so joins and expressions are
unambiguous without SQL-style table qualifiers.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "__"  # alias/column separator in physical names


def pcol(alias: str, column: str) -> str:
    """Physical (prefixed) column name for alias.column."""
    return f"{alias}{SEP}{column}"


def quote(name: str) -> str:
    """Backtick-quote a column name for a Spark SQL string. Every SQL
    fragment built from a catalog or user name goes through here, so a
    dot reads as part of the name and an embedded backtick is
    escaped."""
    return "`" + name.replace("`", "``") + "`"


def ref(name: str) -> Column:
    """Column reference by name. Same expression as ``F.col(name)``
    for a dot-free name, but ``F.expr`` skips the per-call origin
    capture of ``F.col`` — 3 JVM round trips instead of 13."""
    return F.expr(quote(name))


def eq_sql(*pairs: tuple[str, str]) -> str:
    """``l1 = r1 AND l2 = r2 ...`` over column names."""
    return " AND ".join(f"{quote(l)} = {quote(r)}" for l, r in pairs)


def eq(*pairs: tuple[str, str]) -> Column:
    """`eq_sql` as one Column (3 JVM round trips; the same condition
    from ``F.col(l) == F.col(r)`` takes 37)."""
    return F.expr(eq_sql(*pairs))


def as_sql(src: str, name: str) -> str:
    """``src AS name`` for ``selectExpr``, both column names."""
    return f"{quote(src)} AS {quote(name)}"


@dataclass
class NodeBinding:
    alias: str
    label: str
    id_column: str  # logical id column name (unprefixed)
    columns: list[str]  # logical column names

    @property
    def id_pcol(self) -> str:
        return pcol(self.alias, self.id_column)


@dataclass
class RelBinding:
    alias: str
    type_name: str
    columns: list[str]  # property columns (logical names)
    src_pcol: str = ""  # physical src-id column after orientation
    dst_pcol: str = ""
    # Which STORAGE orientation src_pcol/dst_pcol carry: True = they
    # equal (from_column, to_column); False = reversed (a <-[r]- b
    # match); None = mixed/unknown (both-direction unions, multi-type
    # arms, FK-derived rels). The write path keys its edge-table
    # joins off this (r7 review: a rev-matched SET/DELETE previously
    # joined from==src_pcol and silently touched zero edges).
    fwd_storage: "bool | None" = None
    # Multi-type hops (r9) carry a per-row type column so type(r)
    # resolves to the matched arm's name; None = single-type (type(r)
    # is the constant type_name).
    type_pcol: Optional[str] = None


@dataclass
class ScalarBinding:
    """A plain output column introduced by WITH/UNWIND (named by itself).

    ``dtype`` is the column's Spark dtype string when the binding site
    had the DataFrame at hand (r10) — temporal accessors (``d.year``)
    dispatch on it; None keeps the legacy struct-field-access behavior."""

    alias: str
    dtype: Optional[str] = None


@dataclass
class PathBinding:
    """A path variable ``p = (a)-[r]->(b)`` (extension).

    ``rel_hops[i]`` is None for a single-hop relationship (contributes 1
    to length(p)) or the physical hops-column name for a variable-length
    one."""

    alias: str
    node_aliases: list[str]
    rel_aliases: list[str]
    rel_hops: list[Optional[str]]
    # Per-segment rel-struct carriers (r9, parallel to rel_aliases):
    # None for a single-hop segment (struct built inline from the
    # RelBinding); ("<pcol>", (prop names...)) for a variable-length
    # segment whose per-hop structs were carried; ("", ()) for a
    # variable-length/shortest segment without carried structs
    # (relationships() rejects those).
    rel_structs: Optional[list] = None
    # Path bound under OPTIONAL MATCH (r12): name of a carried column
    # that is NULL exactly when the optional pattern missed — p /
    # length(p) / nodes(p) / relationships(p) all compile NULL-guarded
    # on it (openCypher: a missed optional binds p to NULL).
    null_when: Optional[str] = None


Binding = Union[NodeBinding, RelBinding, ScalarBinding, PathBinding]


@dataclass
class Scope:
    bindings: dict[str, Binding] = field(default_factory=dict)

    def bind(self, b: Binding) -> None:
        self.bindings[b.alias] = b

    def get(self, alias: str) -> Optional[Binding]:
        return self.bindings.get(alias)

    def copy(self) -> "Scope":
        return Scope(dict(self.bindings))
