"""Relational + training-data operators (SURVEY §2.2–§2.7 and beyond).

The package re-exports nothing: callers import the module that defines
what they use, so the supplier path (``aggregate``, ``canonical``,
``joins``, ``sort``, ``unpivot``) loads none of the catalog-only families.
"""
