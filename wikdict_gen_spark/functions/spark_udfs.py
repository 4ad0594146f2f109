"""Arrow-batched pandas UDFs — the only Python that runs on executors.

Each UDF body is a vectorized pandas function from
wikdict_gen_spark.functions.vectorized; no per-row Python UDF exists
anywhere in the engine (input_hint contract).  The pandas UDF boundary is
this engine's analog of the reference's SQLite->Python callback, but
Arrow-batched instead of per-row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from wikdict_gen_spark.functions import vectorized as vec


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """binary html -> cleaned text (bad-byte repair + markup strip).

    This defines the byte-identical extraction invariant.
    """
    return vec.clean_html_series(vec.decode_utf8_series(html))


@pandas_udf(StructType([StructField("full", StringType()), StructField("clean", StringType())]))
def clean_form_udf(s: pd.Series, lang: pd.Series) -> pd.DataFrame:
    """Inflected form -> (markup-free form, form without de pronoun/article).

    Both cleanings run in one Python pass, so each form batch crosses the
    Arrow boundary once.
    """
    full = vec.clean_wiki_syntax_series(vec.clean_html_series(s))
    return pd.DataFrame({"full": full, "clean": vec.clean_inflection_series(full, lang)})


@pandas_udf(StringType())
def clean_wiki_syntax_udf(s: pd.Series) -> pd.Series:
    return vec.clean_wiki_syntax_series(s)


@pandas_udf(StringType())
def parse_sense_udf(sense: pd.Series, lang: pd.Series) -> pd.Series:
    return vec.parse_sense_series(sense, lang)


@pandas_udf(StringType())
def sense_num_udf(s: pd.Series) -> pd.Series:
    return vec.sense_num_series(s)


@pandas_udf(StringType())
def porter_stem_udf(s: pd.Series) -> pd.Series:
    """English search-token stemming (FTS4 tokenize=porter analog)."""
    from wikdict_gen_spark.functions.porter import stem_series

    return stem_series(s)
