"""The Python UDF boundary: workers fork from the preloading daemon, and
make_form cleans each form row in one Python pass."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wikdict_gen_spark.functions import textclean as tc
from wikdict_gen_spark.operators import process

FEATS = ["pos", "mood", "number", "person", "tense", "voice", "case",
         "inflection", "definiteness", "gender"]

# (lexentry, other_written, features, lang, expected rank)
FORMS = [
    ("de:geht", "er/sie/es <b>geht</b>",
     {"pos": "verb", "mood": "IndicativeMood", "number": "Singular",
      "person": "First", "tense": "Present", "voice": "ActiveVoice"}, "de", 1),
    ("de:baum", "die [[Baum|Bäume]]",
     {"pos": "noun", "number": "Plural", "case": "Nominative"}, "de", 2),
    ("de:wirf", "wirf!", {"pos": "verb", "mood": "Imperative"}, "de", None),
    ("en:walk", "'''walked'''", {"pos": "verb", "tense": "Past"}, "en", 3),
    ("en:amp", "a &amp; b", {"pos": "noun"}, "en", None),
    ("sv:tom", None, {"pos": "noun"}, "sv", None),
]


@pytest.fixture(scope="module")
def raw_form(spark, tmp_path_factory):
    """A raw_form table read back from parquet, as the pipeline commits it."""
    rows = [(lex, written, *[feats.get(f) for f in FEATS], lang)
            for lex, written, feats, lang, _ in FORMS]
    schema = ("lexentry string, other_written string, "
              + ", ".join(f"`{f}` string" for f in FEATS) + ", lang string")
    path = str(tmp_path_factory.mktemp("raw_form") / "raw_form.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def test_workers_fork_from_the_udf_daemon(spark):
    @pandas_udf("string")
    def main_module(s: pd.Series) -> pd.Series:
        import sys

        return pd.Series([sys.modules["__main__"].__spec__.name] * len(s))

    got = spark.range(4).select(main_module(F.col("id").cast("string"))).collect()
    assert {r[0] for r in got} == {"wikdict_gen_spark.udf_daemon"}


def test_make_form_values(raw_form):
    got = {r["lexentry"]: r for r in process.make_form(raw_form).collect()}
    assert len(got) == len(FORMS)
    for lex, written, _, lang, rank in FORMS:
        full = None if written is None else tc.clean_wiki_syntax(tc.clean_html(written))
        clean = None if full is None else tc.clean_inflection(full, lang)
        assert (got[lex]["other_written_full"], got[lex]["other_written"],
                got[lex]["rank"]) == (full, clean, rank), lex
    assert got["de:baum"]["other_written"] == "Bäume"


def test_make_form_is_one_python_pass(raw_form):
    qe = process.make_form(raw_form)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("clean_form_udf(") == 1
    # the rank inventory is a literal relation, not a Python RDD
    assert "LogicalRDD" not in qe.optimizedPlan().toString()
