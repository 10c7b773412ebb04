"""Quoting for SQL text that plan builders send to the JVM in one piece.

Every ``F.*`` call costs at least one Py4J round trip while the plan is
built, so a builder whose expression grows with the data's width (one
term per store column or per map key) renders that expression as SQL text
and sends it in a single call instead: a supplier build sends its whole
plan as one statement (:func:`sql_over`). Every name and value
interpolated into such text goes through these helpers.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def ident(name: str) -> str:
    """Backtick-quoted identifier (embedded backticks doubled), so headers
    with spaces, dots or reserved words resolve like ``F.col(name)``."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(value: str) -> str:
    """Single-quoted string literal for Spark's default parser
    (``spark.sql.parser.escapedStringLiterals=false``): ``\\`` and ``'``
    are backslash-escaped, every other character is taken as is."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def date_lit(iso: str | None) -> str:
    """A run date (ISO ``yyyy-mm-dd``, or ``None``) as a DATE expression.

    ``CAST('…' AS DATE)`` rather than a ``DATE'…'`` literal: the cast is
    nullable until Catalyst folds it, and a plan it folds into a local
    relation (ACME's) keeps that nullability in its schema."""
    return "CAST(NULL AS DATE)" if iso is None else f"CAST({string_lit(iso)} AS DATE)"


def sql_over(spark: SparkSession, frames: dict[str, DataFrame], select: str, **steps: str) -> DataFrame:
    """One ``spark.sql`` plan: the query ``select`` after the CTEs
    ``steps`` (name → query text, in order), where each DataFrame of
    ``frames`` reads as a table of its own name.

    ``spark.sql`` formats its text with ``str.format`` to name each
    frame's temporary view, which it drops once the plan is analyzed. So
    every brace in the composed text — a regex quantifier, or a header or
    cell taken from a drop — is doubled, once, before the frames' CTEs
    are put in front."""
    bind = ", ".join(f"{name} AS (SELECT * FROM {{{name}}})" for name in frames)
    query = "".join(f", {name} AS ({q})" for name, q in steps.items()) + f" {select}"
    return spark.sql(f"WITH {bind}" + query.replace("{", "{{").replace("}", "}}"), **frames)
