"""Engine scalar-function library (SURVEY §2.8) — Catalyst expressions only.

The text, NA and date helpers (``text``, ``na``, ``dates``) are each
defined once, as a SQL-text renderer ``<name>_sql(x)`` over the SQL text
of the argument; the Column form ``<name>(col)`` takes a column name and
is one ``F.expr`` of that text, so building a plan costs one Py4J round
trip per helper, not one per ``F.*`` call. ``register_sql_functions(spark)``
exposes the core set to SQL (``SELECT item7(col) ...``) with bodies
rendered by the same renderers, so the SQL and Column forms cannot
disagree. ``hashing`` and ``money`` serve the query catalog and are
Column compositions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from etl_jetro_spark.functions import na as _na
from etl_jetro_spark.functions import text as _text
from etl_jetro_spark.functions.dates import (  # noqa: F401
    default_edd,
    epoch_seconds_ntz,
    fmt_mdy2,
    fmt_mdy_no_pad,
    next_mwf,
    reformat_date_tolerant,
    weekday_prefix,
)
from etl_jetro_spark.functions.hashing import (  # noqa: F401
    char_shingles,
    doc_fingerprint,
    hamming_distance_bits,
    lsh_band_keys,
    minhash_signature,
    norm_text,
    simhash_bits,
    word_shingles,
    word_shingles_normed,
)
from etl_jetro_spark.functions.money import (  # noqa: F401
    MICRO,
    cents,
    disc100,
    exact_money_sum,
    exact_net_sum,
    micro_units,
    net_units4,
    sql_cents,
    sql_disc100,
    sql_exact_money_sum,
    sql_exact_net_sum,
    sql_micro_units,
    sql_net_units4,
    sql_sum_micro,
    sql_sum_net4,
    sum_micro,
    sum_net4,
)
from etl_jetro_spark.functions.na import (  # noqa: F401
    NA_STRINGS,
    is_na_like,
    normalize_na,
    normalize_na_strings,
)
from etl_jetro_spark.functions.text import (  # noqa: F401
    DASH_CLASS,
    EMAIL_RE,
    extract_emails,
    extract_store_from_pdf_name,
    first_int,
    is_valid_email,
    item7,
    leading_num,
    money2dp,
    norm_key,
    norm_ws,
    num_anywhere,
    parse_money,
    split_first_dash,
    strip_dot_zero,
    strip_hidden,
)
from etl_jetro_spark.sqltext import ident

# Declarative SQL UDFs (Spark ≥3.5 `CREATE TEMPORARY FUNCTION ... RETURN expr`)
# — these compile to Catalyst expressions, NOT Python UDFs, so spark.sql users
# get the same zero-overhead surface as the Column builders above.
_SQL_FUNCS = {
    "strip_dot_zero": (_text.strip_dot_zero_sql, "STRING"),
    "item7": (_text.item7_sql, "STRING"),
    "first_int": (_text.first_int_sql, "BIGINT"),
    "normalize_na": (_na.normalize_na_sql, "STRING"),
    "norm_ws": (_text.norm_ws_sql, "STRING"),
    "norm_key": (_text.norm_key_sql, "STRING"),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the core scalar set to spark.sql() as expression-based SQL UDFs."""
    arg = ident("s")
    for name, (render, returns) in _SQL_FUNCS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {ident(name)}({arg} STRING) "
            f"RETURNS {returns} RETURN {render(arg)}"
        )
