"""etl_jetro_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``yzysnake/ETL-Jetro`` reference suite.

The reference is a pandas purchasing-automation toolkit (see SURVEY.md); this
package re-expresses its relational semantics — scan → normalize → unpivot →
filter → aggregate → join → derive → sort → ordered sink — as Spark SQL and
DataFrame code, plus a Spark-free PO poller and control tick.

Layout
------
- ``functions``  scalar helpers as SQL-text renderers, plus the catalog's
                 hashing and money Column builders (SURVEY §2.8, F1–F15)
- ``normalize``  positional grid ops: header promotion, slicing (§2.2 P1–P12)
- ``operators``  relational core: unpivot, agg, join, sort, dedup, similarity
- ``sources``    ingest: excel/csv/json/sheet readers (§2.1 S1–S6)
- ``sinks``      canonical excel, keystroke-macro, pdf sinks (§2.9 K1–K6)
- ``streaming``  PO poller + control tick (§2.1 S7, §2.10 T1–T7)
- ``pipelines``  the six supplier pipelines re-expressed on the engine
- ``plans``      the query catalog behind ``__spark_entry__.py``

The supplier system is ``pipelines``, ``streaming``, ``sources``,
``sinks``, ``normalize``, ``functions.{text,na,dates}`` and
``operators.{unpivot,joins,sort,canonical}``; ``plans.queries``
and the other operator and function modules serve the catalog.
``operators`` and ``functions`` re-export nothing: callers import each
module by name, so a supplier run loads none of the catalog's modules
(``tests/test_reachability.py`` pins that set).
"""

__version__ = "0.1.0"

from etl_jetro_spark.session import get_spark  # noqa: F401
