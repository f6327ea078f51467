"""Transcript normalization UDF — the byte-parity path.

The authoritative implementation is hydra_spark.textnorm.normalize (NFC +
lower + whitespace collapse + strip); the pandas UDF here simply maps it
over Arrow batches, so engine output and oracle output share one code
path (BASELINE.md byte-for-byte gate).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from hydra_spark import textnorm


@pandas_udf(T.StringType())
def normalize_transcript(s: pd.Series) -> pd.Series:
    return textnorm.normalize_series(s)
