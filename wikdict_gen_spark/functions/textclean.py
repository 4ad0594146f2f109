"""Scalar text-cleaning semantics, reimplemented from scratch.

These functions define the *byte-identical extracted text* contract of the
engine.  Their observable behavior matches the reference implementation
(semantics studied at /root/reference/src/parse.py:33-140,
/root/reference/src/process.py:71-98 and
/root/reference/src/sparql/queries.py:11-12,342-356); the code here is an
independent implementation designed to be re-entrant and batch-friendly so
it can run inside Arrow-batched pandas UDFs.

Everything in this module is pure Python with no Spark imports, so the
same code paths are unit-testable without a SparkSession and get shipped
to executors via --py-files.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

# --- digit -> unicode super/subscript maps (parse.py:6-28 semantics) -----

_SUPERSCRIPT_DIGITS = dict(zip("123456789", "¹²³⁴⁵⁶⁷⁸⁹"))
_SUBSCRIPT_DIGITS = dict(zip("123456789", "₁₂₃₄₅₆₇₈₉"))

# tags whose inner text is dropped entirely (parse.py:30)
_DROP_CONTENT_TAGS = frozenset({"ref"})


class _MarkupStripper(HTMLParser):
    """Event-driven tag stripper.

    Text is buffered per tag span; when a span closes, the buffered text is
    either remapped (single digit inside <sup>/<sub> becomes the unicode
    super/subscript character), dropped (<ref> content), or emitted as-is.
    Entity and character references are decoded by the base class
    (convert_charrefs default), matching the observable reference behavior.

    A fresh instance is used per input value: the parser must be re-entrant
    across Arrow batches and thread-safe under local[k] execution.
    """

    def __init__(self) -> None:
        super().__init__()
        self.out: list[str] = []
        self._span = ""

    def _emit_span(self) -> None:
        if self._span:
            self.out.append(self._span)
            self._span = ""

    def handle_starttag(self, tag, attrs):  # noqa: D102
        self._emit_span()

    def handle_endtag(self, tag):  # noqa: D102
        if tag == "sup":
            self._span = _SUPERSCRIPT_DIGITS.get(self._span, self._span)
        elif tag == "sub":
            self._span = _SUBSCRIPT_DIGITS.get(self._span, self._span)
        elif tag in _DROP_CONTENT_TAGS:
            self._span = ""
        self._emit_span()

    def handle_data(self, data):  # noqa: D102
        self._span += data

    def result(self) -> str:
        self._emit_span()
        return "".join(self.out)


def clean_html(value: str | None) -> str | None:
    """Strip markup tags, decode entities, map <sup>/<sub> digits, drop <ref> bodies.

    Fast path: inputs containing neither ``<`` nor ``&`` are returned
    unchanged.  Note the reference implementation fast-paths on ``<`` alone,
    which leaves entities in tag-free text undecoded and contradicts its own
    golden test (reference test_parse.py::test_entity fails against the
    reference code); we follow the golden tests, which are the contract.
    """
    if value is None:
        return None
    if "<" not in value and "&" not in value:
        return value
    stripper = _MarkupStripper()
    stripper.feed(value)
    stripper.close()
    return stripper.result()


# --- wiki syntax -----------------------------------------------------------

_RE_LEADING_NOISE = re.compile(r"^[:\|] ?")
_RE_WIKI_LINK = re.compile(r"\[\[(?:[-\w# ]+\|)?([\w !]+)\]\]")
_RE_TICKS = re.compile(r"'{2,3}")
_RE_TEMPLATE_NOCAT = re.compile(r"\|(?:\d+ )?{{.*nocat=1")
_RE_TEMPLATE_OPEN = re.compile(r"{{[^}]+")


def _collapse_wiki_links(value: str) -> str:
    """Rewrite ``[[target|label]]`` -> ``label`` / ``[[x]]`` -> ``x``.

    Applied to a fixpoint so nested links like ``[[[[a]] b]]`` fully
    collapse.
    """
    while True:
        value, n = _RE_WIKI_LINK.subn(r"\1", value)
        if not n:
            return value


def clean_wiki_syntax(value: str) -> str:
    """Normalize wiki markup noise in glosses/translations.

    Order matters and is part of the contract: leading ``:``/``|`` noise,
    link collapse (to fixpoint), bold/italic tick removal, truncation of
    ``|… {{…nocat=1`` trailers, and removal of unclosed ``{{`` template
    fragments, then strip().
    """
    value = _RE_LEADING_NOISE.sub("", value)
    value = _collapse_wiki_links(value)
    value = _RE_TICKS.sub("", value)
    value = _RE_TEMPLATE_NOCAT.sub("", value)
    value = _RE_TEMPLATE_OPEN.sub("", value)
    return value.strip()


# --- language-specific pieces ---------------------------------------------

_RE_FR_DUMMY = re.compile(
    r"^(?:(?:traductions|sens)?.* )?[àa] (?:trier|classer)", re.IGNORECASE
)


def is_dummy_sense(sense: str, lang: str) -> bool:
    """French placeholder glosses ("translations to be sorted") carry no meaning."""
    if lang == "fr":
        return _RE_FR_DUMMY.search(sense) is not None
    return False


_RE_DE_PRONOUN = re.compile(r"^(er/sie/es|ich|du|er|sie|es|wir|ihr|sie)\s+(ist\s+)?")
_RE_DE_BANG = re.compile("!$")
_RE_DE_ARTICLE = re.compile(r"^(der|die|das)\s+")


def clean_inflection(value: str, lang: str) -> str:
    """Strip language-specific scaffolding from inflected-form citations.

    German: leading conjugation pronouns (optionally followed by ``ist``),
    a trailing imperative ``!``, and leading articles.  Identity elsewhere.
    """
    if lang != "de":
        return value
    value = _RE_DE_PRONOUN.sub("", value)
    value = _RE_DE_BANG.sub("", value)
    return _RE_DE_ARTICLE.sub("", value)


# --- sense numbers / glosses -----------------------------------------------

_RE_SENSE_NUM = re.compile(r"(\d+)(\w)?")


def normalize_sense_num(value: str | None) -> str | None:
    """``'3'`` -> ``'03'``, ``'3a'`` -> ``'03a'``; None/empty -> None.

    Raises on inputs that don't start with a digit — silent nulls here
    would corrupt sense ordering downstream.
    """
    if not value:
        return None
    m = _RE_SENSE_NUM.match(value)
    if m is None:
        raise ValueError(f"unparseable sense number: {value!r}")
    out = format(int(m.group(1)), "02d")
    return out + m.group(2) if m.group(2) else out


def parse_sense(sense: str | None, lang: str) -> str | None:
    """Full gloss normalization: strip -> wiki cleanup -> tag strip -> dummy filter."""
    if sense is None:
        return None
    sense = sense.strip()
    if not sense:
        return None
    sense = clean_wiki_syntax(sense)
    sense = clean_html(sense)
    if is_dummy_sense(sense, lang):
        return None
    return sense


_RE_GLOSS_TRAILER = re.compile(r"^(.*?)[.]?\s*(?:\(\d+\)|\|\d+)?:?$", re.DOTALL)


def strip_gloss_trailer(value: str) -> str:
    """Remove trailing sense-number references like ``(1)`` / ``|2`` / ``:`` (fr glosses)."""
    m = _RE_GLOSS_TRAILER.match(value)
    if m is None:  # pattern is total (everything optional); keep a guard anyway
        raise ValueError(f"malformed gloss: {value!r}")
    return m.group(1)


# --- identifiers -----------------------------------------------------------


def surface_guess(vocable: str) -> str:
    """Vocable id -> guessed surface form: drop the 4-char lang prefix, '_' -> ' '.

    Vocables look like ``deu/Haus`` (3-letter lang code + '/').  This guess
    is the key of the entity-linking dictionary.
    """
    return vocable[4:].replace("_", " ")
