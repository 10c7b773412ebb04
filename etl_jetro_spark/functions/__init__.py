"""Engine scalar-function library (SURVEY §2.8) — Catalyst expressions only.

The text, NA and date helpers (``text``, ``na``, ``dates``) are each
defined once, as a SQL-text renderer ``<name>_sql(x)`` over the SQL text
of the argument; a DataFrame caller wraps it in one ``F.expr`` (or a
``selectExpr``), so building a plan costs one Py4J round trip per helper,
not one per ``F.*`` call. ``text`` also holds the Python form of each
rule the driver applies to header and cell strings. ``hashing`` and
``money`` serve the query catalog and are Column compositions. The
package re-exports nothing: callers import the module that defines what
they use.
"""
