"""Vectorized (pandas.Series) forms of the text-cleaning functions.

These are the bodies of the engine's Arrow-batched pandas UDFs.  The
pattern throughout: a cheap vectorized mask selects the rows that actually
contain markup, and the stateful parser runs only on that subset
(mirroring the reference's scalar fast path, but batch-at-a-time).  No
per-row Python ever crosses the Spark API layer.
"""

from __future__ import annotations

import re

import pandas as pd

from wikdict_gen_spark.functions import textclean as tc

# group-free twin of the link regex, for boolean probing without pandas warnings
_RE_WIKI_LINK_PROBE = re.compile(r"\[\[(?:[-\w# ]+\|)?(?:[\w !]+)\]\]")


def clean_html_series(s: pd.Series) -> pd.Series:
    """Vectorized clean_html: parse only rows containing '<' or '&'."""
    out = s.copy()
    mask = s.notna() & (
        s.str.contains("<", regex=False) | s.str.contains("&", regex=False)
    )
    if mask.any():
        out.loc[mask] = s.loc[mask].map(tc.clean_html)
    return out


def _collapse_links_series(s: pd.Series) -> pd.Series:
    """Fixpoint collapse of [[target|label]] links over a whole series."""
    pending = s.str.contains(_RE_WIKI_LINK_PROBE, regex=True, na=False)
    while pending.any():
        s = s.copy()
        s.loc[pending] = s.loc[pending].str.replace(tc._RE_WIKI_LINK, r"\1", regex=True)
        pending = pending & s.str.contains(_RE_WIKI_LINK_PROBE, regex=True, na=False)
    return s


def clean_wiki_syntax_series(s: pd.Series) -> pd.Series:
    """Vectorized clean_wiki_syntax (same pass order as the scalar form)."""
    na = s.isna()
    s = s.str.replace(tc._RE_LEADING_NOISE, "", regex=True)
    s = _collapse_links_series(s)
    s = s.str.replace(tc._RE_TICKS, "", regex=True)
    s = s.str.replace(tc._RE_TEMPLATE_NOCAT, "", regex=True)
    s = s.str.replace(tc._RE_TEMPLATE_OPEN, "", regex=True)
    s = s.str.strip()
    return s.mask(na, None)


def clean_inflection_series(s: pd.Series, lang_s: pd.Series) -> pd.Series:
    """Vectorized clean_inflection with per-row language dispatch."""
    out = s.copy()
    de = (lang_s == "de") & s.notna()
    if de.any():
        d = s.loc[de]
        d = d.str.replace(tc._RE_DE_PRONOUN, "", regex=True)
        d = d.str.replace(tc._RE_DE_BANG, "", regex=True)
        d = d.str.replace(tc._RE_DE_ARTICLE, "", regex=True)
        out.loc[de] = d
    return out


# anchored twin of _RE_SENSE_NUM: str.extract applies re.search, but the
# scalar contract is re.match — 'x3' must raise, not silently become '03'
_RE_SENSE_NUM_ANCHORED = re.compile(r"^(\d+)(\w)?")


def sense_num_series(s: pd.Series) -> pd.Series:
    """Vectorized normalize_sense_num: extract, zero-pad, re-suffix.

    Matches the scalar ``normalize_sense_num`` exactly, including raising on
    inputs that don't *start* with a digit."""
    parts = s.str.extract(_RE_SENSE_NUM_ANCHORED, expand=True)
    empty = s.isna() | (s == "")
    bad = parts[0].isna() & ~empty
    if bad.any():
        raise ValueError(f"unparseable sense numbers: {s[bad].head().tolist()!r}")
    num = parts[0].astype("float").astype("Int64").astype(str).str.zfill(2)
    out = num.where(parts[1].isna(), num + parts[1].fillna(""))
    return out.mask(empty, None)


def parse_sense_series(s: pd.Series, lang_s: pd.Series) -> pd.Series:
    """Vectorized parse_sense: strip -> wiki cleanup -> tag strip -> dummy filter."""
    s = s.str.strip()
    s = s.mask(s == "", None)
    s = clean_wiki_syntax_series(s)
    s = clean_html_series(s)
    dummy = (lang_s == "fr") & s.notna() & s.str.contains(tc._RE_FR_DUMMY, na=False)
    return s.mask(dummy, None)


def decode_utf8_series(b: pd.Series) -> pd.Series:
    """binary -> string with replacement-character repair for bad bytes."""
    return b.map(lambda x: None if x is None else bytes(x).decode("utf-8", "replace"))
