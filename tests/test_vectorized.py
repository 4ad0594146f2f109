# -*- coding: utf-8 -*-
"""Vectorized forms must agree element-wise with the scalar contract functions."""

import pandas as pd
import pytest

from wikdict_gen_spark.functions import textclean as tc
from wikdict_gen_spark.functions import vectorized as vec

TRICKY = [
    None,
    "",
    "plain text",
    "a &nbsp; b",
    "CH<sub>3</sub>–(CH<sub>2</sub>)<sub>8</sub>–</small/>COOH",
    "x<sup>2</sup>",
    'drop<ref name="x">me</ref> keep',
    "Brunnen mit ''Spring''fontänen",
    "'''V'''ereinte '''N'''ationen",
    ": Gesamtheit, alle ",
    "| pipe noise",
    "Qui est en [[âge]] de se [[marier]]",
    "Voir [[sauter#fr|sauter]]",
    "[[ojentaa]] ([[käsi|käte]][[-nsa|nsä]])",
    "[[[[gå]] av]]",
    "Saillir une femelle (la féconder).|9 {{trans|nocat=1",
    "word {{template|arg",
    "Traductions à trier suivant le sens",
    "die Art und Weise o.&nbsp;Ä.",
    "  spaced  ",
]


def test_clean_html_series():
    s = pd.Series(TRICKY, dtype="object")
    got = vec.clean_html_series(s)
    want = [tc.clean_html(x) for x in TRICKY]
    assert list(got) == want


def test_clean_wiki_syntax_series():
    vals = [x for x in TRICKY if x is not None]
    s = pd.Series(vals, dtype="object")
    got = vec.clean_wiki_syntax_series(s)
    want = [tc.clean_wiki_syntax(x) for x in vals]
    assert list(got) == want


@pytest.mark.parametrize("lang", ["de", "fr", "en"])
def test_parse_sense_series(lang):
    vals = TRICKY
    s = pd.Series(vals, dtype="object")
    got = vec.parse_sense_series(s, pd.Series([lang] * len(vals)))
    want = [tc.parse_sense(x, lang) for x in vals]
    assert [None if pd.isna(g) else g for g in got] == want


def test_clean_inflection_series():
    vals = ["er/sie/es geht", "es ist schön", "wirf!", "die Bäume", "keep me"]
    langs = ["de", "de", "de", "de", "en"]
    got = vec.clean_inflection_series(pd.Series(vals), pd.Series(langs))
    want = [tc.clean_inflection(v, lang) for v, lang in zip(vals, langs)]
    assert list(got) == want


def test_sense_num_series():
    vals = ["3", "3a", "12", "12bc", None, ""]
    got = vec.sense_num_series(pd.Series(vals, dtype="object"))
    want = [tc.normalize_sense_num(v) for v in vals]
    assert [None if pd.isna(g) else g for g in got] == want


def test_sense_num_series_raises():
    with pytest.raises(ValueError):
        vec.sense_num_series(pd.Series(["abc"], dtype="object"))


def test_decode_utf8_series():
    got = vec.decode_utf8_series(
        pd.Series([b"ok", "caf\xe9".encode("latin-1"), None], dtype="object")
    )
    assert list(got) == ["ok", "caf�", None]
