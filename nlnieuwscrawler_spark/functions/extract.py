"""O12: article extraction as an Arrow-vectorized pandas UDF.

``html BINARY → STRUCT<title STRING, text STRING, links ARRAY<STRING>,
page_lang STRING>`` applying the pinned deterministic parser
(:mod:`nlnieuwscrawler_spark.functions.htmlparse`) per Arrow batch — the
only Python boundary on the fetch path, per BASELINE.json input_hint
("vectorized pandas/Arrow UDFs (no per-row Python)"). The parse itself is
CPU-bound Python per document, but batching through Arrow amortizes serde
and keeps executor cores busy; at cluster scale this stage is
embarrassingly parallel (keyed by url, no shuffle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nlnieuwscrawler_spark.functions.htmlparse import extract_html

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("page_lang", T.StringType()),
    ]
)


@F.pandas_udf(EXTRACT_SCHEMA)
def extract_udf(html: pd.Series) -> pd.DataFrame:
    rows = [extract_html(b) for b in html]
    return pd.DataFrame(
        {
            "title": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "links": [r[2] for r in rows],
            "page_lang": [r[3] for r in rows],
        }
    )

