"""Email validation — the reference's single UDF (SURVEY.md §2.9 U1).

Parity: ``local_spotify_dab/src/gold/spotify_etl/utilities/utils.py:5-14``
— a Python ``@udf(returnType=BooleanType())`` matching
``^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$`` and returning False
for None.

Two implementations:

- :func:`is_valid_email_col` — the fast path: native ``rlike`` (JVM-side,
  whole-stage-codegen-able, no Python round-trip). The reference UDF
  returns False for null where ``rlike`` yields null, so the null is
  coalesced back to False — exact behavioral parity at ~100× the speed.
- :func:`is_valid_email_udf` — the literal Python-UDF form, kept for API
  parity and as the comparison baseline. Never use this in a 100 TB scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

EMAIL_REGEX = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
_compiled = re.compile(EMAIL_REGEX)


def is_valid_email_col(col: Column | str) -> Column:
    """Native (codegen) variant; null → False like the reference UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.rlike(EMAIL_REGEX), F.lit(False))


# no type hints: returnType fixes the type, and hints make PySpark try
# to infer a pandas-UDF eval type and warn on every import
@F.udf(returnType=BooleanType())
def is_valid_email_udf(email):
    """Row-at-a-time Python UDF, literal port of the reference semantics."""
    if email is None:
        return False
    return bool(_compiled.match(email))
