"""Scalar function library (SURVEY §2.8): dates (incl. BCE), strings/URIs,
names, geometry. Everything that CAN be a built-in pyspark.sql.functions
expression is one; only free-text date parsing (every row, ISO included)
and geometry scoring are (vectorized, Arrow-batched) UDFs.
"""

from .dates import (  # noqa: F401
    epoch_seconds,
    lifespan_ok,
    lifespan_ok_py,
    make_datetime,
    make_datetime_udf,
    parse_datetime,
    year_of,
)
from .strings import (  # noqa: F401
    canonicalize_uri,
    clean_name,
    fix_identifier,
    make_qua,
    normalize_url,
    split_qua,
    strip_html,
)
