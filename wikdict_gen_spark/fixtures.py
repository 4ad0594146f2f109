"""Deterministic synthetic `pages` corpus with ground-truth plan tables.

Generates the engine's only required input — an Iceberg/parquet table
``pages(url, warc_ts, html, text, lang)`` of Common-Crawl-style pages whose
bodies embed dictionary-article content — plus the *plan* tables (the clean
facts that were embedded) and the byte-exact ``expected_text`` per url.

Generation is top-down: clean facts are planned first, then noised into
wiki markup (cleaned again at the process stage) and HTML markup (cleaned
at the extract stage).  Because the noising transforms are exact inverses
of the cleaning contract, byte-identity of extraction is decidable.

Markup noise is drawn from the reference's golden parse cases
(/root/reference/src/tests/test_parse.py) so extraction is exercised
end-to-end, not just as a pure function.  Seeded, no wall clock, no
external data.
"""

from __future__ import annotations

import datetime
import random
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from wikdict_gen_spark.functions import textclean as tc

LANGS = ("de", "en", "sv", "fr")
# lexentry/vocable URI prefixes use the registry's ISO-639-3 codes so a
# corpus may span any registry language (650-pair rehearsal)
from wikdict_gen_spark.languages import LANGUAGE_CODES3 as LANG3  # noqa: E402

_EPOCH = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)


# --- wiki-markup noising (inverse of clean_wiki_syntax) ---------------------


def _noise_trans(rng: random.Random, clean: str) -> str:
    """Wrap a clean translation surface in markup that cleans back to it."""
    choice = rng.randrange(4)
    if choice == 0:
        return f"[[{clean}]]"
    if choice == 1:
        return f"[[x#link|{clean}]]"
    if choice == 2:
        return f"''{clean}''"
    return clean


def _noise_sense(rng: random.Random, clean: str) -> str:
    """Wrap a clean gloss in markup that cleans back to it."""
    choice = rng.randrange(5)
    if choice == 0:
        return f"''{clean}''"
    if choice == 1:
        return f": {clean}"
    if choice == 2:
        return f"{clean}|9 {{{{trans|nocat=1"
    if choice == 3:
        return f"{clean} {{{{unclosed|arg"
    return clean


# --- HTML noising (inverse of clean_html) -----------------------------------

_HTML_ENCODE = [("\xa0", "&nbsp;"), ("¹", "<sup>1</sup>"), ("₃", "<sub>3</sub>"), ("²", "<sup>2</sup>")]


def _dirty_html(rng: random.Random, clean_text: str) -> str:
    """Produce an HTML body whose clean_html() output is exactly clean_text.

    Prose lines (no leading '#') get tag wrapping and dropped-content
    <ref> spans; record lines are encoded verbatim.  Special characters
    are reverse-mapped to their entity/tag encodings.
    """
    out_lines = []
    for line in clean_text.split("\n"):
        if line.startswith("#") or not line:
            out_lines.append(line)
            continue
        for ch, enc in _HTML_ENCODE:
            line = line.replace(ch, enc)
        r = rng.randrange(4)
        if r == 0:
            head, _, tail = line.partition(" ")
            line = f"<b>{head}</b> {tail}" if tail else f"<b>{head}</b>"
        elif r == 1:
            line = f"<i>{line}</i>"
        elif r == 2:
            line = f'{line}<ref name="n{rng.randrange(99)}">dropped citation junk</ref>'
        out_lines.append(line)
    return "\n".join(out_lines)


# --- content plan ------------------------------------------------------------


def _word(lang: str, concept: int) -> str:
    if concept % 7 == 0:
        return f"{lang}_word{concept:04d}"
    return f"{lang}word{concept:04d}"


def _rep(word: str) -> str:
    return word.replace("_", " ")


class _Plan:
    """Accumulates clean fact rows keyed the way the engine must emit them."""

    def __init__(self) -> None:
        self.entry: list[dict] = []
        self.pos: list[dict] = []
        self.gender: list[dict] = []
        self.pronun: list[dict] = []
        self.form: list[dict] = []
        self.translation: list[dict] = []
        self.nym: list[dict] = []
        # per (lang, word): records to embed in that word's page
        self.page_records: dict[tuple[str, str], list[str]] = {}

    def rec(self, lang: str, word: str, parts: list[str | None]) -> None:
        key = (lang, word)
        line = "\t".join("" if p is None else p for p in parts)
        self.page_records.setdefault(key, []).append(line)


def _add_entry(
    plan: _Plan,
    rng: random.Random,
    lang: str,
    word: str,
    pos: str,
    idx: int,
    *,
    gender: str | None = None,
    conflict_gender: bool = False,
    n_pronun: int = 1,
) -> str:
    lex = f"{LANG3[lang]}/{word}__{pos}__{idx}"
    voc = f"{LANG3[lang]}/{word}"
    rep = _rep(word)
    plan.entry.append({"lexentry": lex, "vocable": voc, "written_rep": rep, "lang": lang})
    plan.rec(lang, word, ["#entry", lex, voc, rep])
    plan.pos.append({"lexentry": lex, "part_of_speech": pos, "lang": lang})
    plan.rec(lang, word, ["#pos", lex, pos])
    if gender:
        genders = [gender, ("feminine" if gender != "feminine" else "neuter")] if conflict_gender else [gender]
        for g in genders:
            plan.gender.append({"lexentry": lex, "gender": g, "lang": lang})
            plan.rec(lang, word, ["#gender", lex, g])
    for p in range(n_pronun):
        pron = f"/{word}{p}/"
        plan.pronun.append({"lexentry": lex, "pronun": pron, "lang": lang})
        plan.rec(lang, word, ["#pronun", lex, pron])
    return lex


_FORM_COLS = [
    "pos", "mood", "number", "person", "tense", "voice", "case",
    "inflection", "definiteness", "gender",
]


def _add_form(plan: _Plan, lang: str, word: str, lex: str, raw_written: str, feats: dict) -> None:
    row = {"lexentry": lex, "other_written": raw_written, "lang": lang}
    for c in _FORM_COLS:
        row[c] = feats.get(c)
    plan.form.append(row)
    plan.rec(lang, word, ["#form", lex, raw_written] + [feats.get(c) for c in _FORM_COLS])


def _add_trans(
    plan: _Plan,
    rng: random.Random,
    lang: str,
    word: str,
    lex: str,
    sense_num: str | None,
    sense_clean: str | None,
    kind: str,
    to_lang: str,
    target_rep: str,
) -> None:
    raw_sense = _noise_sense(rng, sense_clean) if sense_clean else ""
    raw_trans = _noise_trans(rng, target_rep)
    plan.translation.append(
        {
            "lexentry": lex,
            "sense_num": tc.normalize_sense_num(sense_num),
            "sense": sense_clean,
            "trans": target_rep,
            "kind": kind,
            "from_lang": lang,
            "to_lang": to_lang,
        }
    )
    plan.rec(lang, word, ["#trans", lex, sense_num or "", kind, to_lang, raw_sense, raw_trans])


def _add_nym(plan: _Plan, lang: str, word: str, lex: str, nym: str, target_rep: str) -> None:
    plan.nym.append({"f": lex, "nym": nym, "t_rep": target_rep, "lang": lang})
    plan.rec(lang, word, ["#nym", lex, nym, target_rep])


def _plant_special_cases(plan: _Plan, rng: random.Random) -> None:
    """Seeded semantic cases mirroring the reference's end-to-end tests.

    1. True pivot (analog of de gehen -> sv gå): de 'degehen' -> {en, fr}
       pivots whose matching senses translate both back to de and on to sv
       'svgaa'  =>  indirect score 10+10=20, MUST survive the good-gate.
    2. False friend (analog of gehen -> åka): the en pivot's *other* sense
       goes to sv 'svaaka' with no backlink  =>  score 1, MUST be dropped
       from the grouped translation list by the gap rule.
    3. Reverse-only fallback: sv 'svrueck' -> de exists, de -> sv does not.
    4. Sense-beats-gloss: one (lexentry, trans) pair present as both kinds.
    5. Alias cluster: chain + star of synonym edges with a hot hub.
    """
    # -- words
    de_gehen = _add_entry(plan, rng, "de", "degehen", "verb", 1)
    en_go = _add_entry(plan, rng, "en", "engo", "verb", 1)
    fr_aller = _add_entry(plan, rng, "fr", "fraller", "verb", 1)
    sv_gaa = _add_entry(plan, rng, "sv", "svgaa", "verb", 1)
    sv_aaka = _add_entry(plan, rng, "sv", "svaaka", "verb", 1)
    de_rueck = _add_entry(plan, rng, "de", "derueck", "noun", 1, gender="masculine")
    sv_rueck = _add_entry(plan, rng, "sv", "svrueck", "noun", 1)

    # -- 1+2: pivot composition with backlink evidence
    _add_trans(plan, rng, "de", "degehen", de_gehen, "1", "to move", "sense", "en", "engo")
    _add_trans(plan, rng, "de", "degehen", de_gehen, "1", "to move", "sense", "fr", "fraller")
    # en pivot, sense 'movement': back to de AND on to sv
    _add_trans(plan, rng, "en", "engo", en_go, "1", "movement", "sense", "de", "degehen")
    _add_trans(plan, rng, "en", "engo", en_go, "1", "movement", "sense", "sv", "svgaa")
    # en pivot, sense 'travel': only on to sv (false friend, no backlink)
    _add_trans(plan, rng, "en", "engo", en_go, "2", "travel", "sense", "sv", "svaaka")
    # fr pivot, matching sense
    _add_trans(plan, rng, "fr", "fraller", fr_aller, "1", "mouvement", "sense", "de", "degehen")
    _add_trans(plan, rng, "fr", "fraller", fr_aller, "1", "mouvement", "sense", "sv", "svgaa")
    # give targets their own importance feeders
    _add_trans(plan, rng, "sv", "svgaa", sv_gaa, "1", "resa", "sense", "en", "engo")
    _add_trans(plan, rng, "sv", "svaaka", sv_aaka, "1", "fara", "sense", "fr", "fraller")

    # -- 3: reverse-only fallback (sv->de exists, de->sv does not)
    _add_trans(plan, rng, "sv", "svrueck", sv_rueck, "1", "tillbaka", "sense", "de", "derueck")

    # -- 4: sense-beats-gloss on one (lexentry, trans) pair
    de_haus = _add_entry(plan, rng, "de", "dehaus", "noun", 1, gender="neuter", n_pronun=2)
    en_house = _add_entry(plan, rng, "en", "enhouse", "noun", 1)
    _add_trans(plan, rng, "de", "dehaus", de_haus, "1", "building", "sense", "en", "enhouse")
    _add_trans(plan, rng, "de", "dehaus", de_haus, None, "rough gloss building", "gloss", "en", "enhouse")
    # gloss-only row must survive
    fr_maison = _add_entry(plan, rng, "fr", "frmaison", "noun", 1, gender="feminine")
    _add_trans(plan, rng, "de", "dehaus", de_haus, None, "rough house gloss", "gloss", "fr", "frmaison")
    # fr dummy sense -> NULL sense in the processed table (F7/X5)
    _add_trans(plan, rng, "fr", "frmaison", fr_maison, "1", "Traductions à trier", "sense", "de", "dehaus")

    # -- 5: alias cluster around dehaus (chain + hot hub star)
    hub_rep = _rep("dehaus")
    for i in range(6):
        alias = _add_entry(plan, rng, "de", f"dealias{i}", "noun", 1)
        _add_nym(plan, "de", f"dealias{i}", alias, "synonym", hub_rep)
    chain_prev = "dealias0"
    for i in range(6, 9):
        alias = _add_entry(plan, rng, "de", f"dealias{i}", "noun", 1)
        _add_nym(plan, "de", f"dealias{i}", alias, "synonym", _rep(chain_prev))
        chain_prev = f"dealias{i}"

    # -- gender conflict -> NULL (A3)
    _add_entry(plan, rng, "de", "dekonflikt", "noun", 1, gender="masculine", conflict_gender=True)

    # -- German inflected forms (X3 cleaning through the pipeline)
    _add_form(plan, "de", "degehen", de_gehen, "er/sie/es degeht",
              {"pos": "verb", "mood": "IndicativeMood", "number": "Singular",
               "person": "First", "tense": "Present", "voice": "ActiveVoice"})
    _add_form(plan, "de", "degehen", de_gehen, "degeh!", {"pos": "verb"})
    _add_form(plan, "de", "dehaus", de_haus, "die dehäuser",
              {"pos": "noun", "number": "Plural", "case": "Nominative"})
    _add_form(plan, "de", "dehaus", de_haus, "dehauses", {})

    # -- F6 pos gates
    # abbreviation entries score no importance; their translations drop at
    # the inner from-importance join (SPARQL pos NOT IN filter analog)
    de_abk = _add_entry(plan, rng, "de", "deabk", "abbreviation", 1)
    _add_trans(plan, rng, "de", "deabk", de_abk, "1", "shortened house", "sense", "en", "enhouse")
    # pos-crossed synonym: verb source naming the noun hub's surface form
    # must NOT create an alias edge (nym FILTER ?f_pos = ?t_pos analog)
    de_xpos = _add_entry(plan, rng, "de", "dexpos", "verb", 1)
    _add_nym(plan, "de", "dexpos", de_xpos, "synonym", hub_rep)


def _plant_background(plan: _Plan, rng: random.Random, n_concepts: int) -> None:
    """Organic seeded translation graph over concepts 10..n."""
    _plant_background_range(plan, rng, 10, n_concepts)


def _plant_background_range(plan: _Plan, rng: random.Random, lo: int, hi: int) -> None:
    pos_choices = ("noun", "verb", "adjective")
    present: dict[tuple[str, int], str] = {}
    for c in range(lo, hi):
        for lang in LANGS:
            if rng.random() < 0.9:
                present[(lang, c)] = _word(lang, c)
    entries: dict[tuple[str, int], str] = {}
    for (lang, c), word in present.items():
        pos = pos_choices[rng.randrange(3)]
        gender = "masculine" if (pos == "noun" and lang in ("de", "sv")) else None
        entries[(lang, c)] = _add_entry(
            plan, rng, lang, word, pos, 1,
            gender=gender,
            conflict_gender=(gender is not None and c % 17 == 0),
            n_pronun=2 if c % 5 == 0 else 1,
        )
        if c % 9 == 0 and (lang, c - 1) in present:
            _add_nym(plan, lang, word, entries[(lang, c)], "synonym", _rep(present[(lang, c - 1)]))
    for (lang, c), word in present.items():
        lex = entries[(lang, c)]
        # stable across processes: builtin hash() is PYTHONHASHSEED-random,
        # which made "deterministic" corpora differ run to run
        n_senses = 1 + (c + zlib.crc32(lang.encode())) % 2
        for s in range(1, n_senses + 1):
            gloss = f"meaning {word} {s}"
            for to_lang in LANGS:
                if to_lang == lang or (to_lang, c) not in present:
                    continue
                if rng.random() < 0.55:
                    kind = "sense" if rng.random() < 0.8 else "gloss"
                    _add_trans(
                        plan, rng, lang, word, lex,
                        str(s) if kind == "sense" else None,
                        gloss if kind == "sense" else f"gloss {word}",
                        kind, to_lang, _rep(present[(to_lang, c)]),
                    )


# --- page assembly -----------------------------------------------------------


def _page_text(rng: random.Random, lang: str, word: str, records: list[str]) -> str:
    """Interleave prose filler (with special characters) between record lines."""
    rep = _rep(word)
    lines = [f"Artikel {rep} ({lang})."]
    specials = rng.randrange(4)
    if specials == 0:
        lines.append(f"Siehe o.\xa0Ä. und {rep}¹ im Abschnitt CH₃.")
    elif specials == 1:
        lines.append(f"Formel x² zu {rep}.")
    elif specials == 2:
        lines.append(f"Hinweis � zu {rep}.")  # bad-byte repair case
    lines.extend(records)
    lines.append(f"Ende des Artikels {rep}.")
    return "\n".join(lines)


def _chunk_pages(args: tuple) -> str:
    """Worker: generate pages for a concept range into one parquet part.

    Chunk 0 also plants the special semantic cases.  Deterministic per
    (seed, chunk) regardless of worker scheduling.
    """
    out_dir, chunk_idx, lo, hi, seed = args
    rng = random.Random(seed * 1_000_003 + chunk_idx)
    plan = _Plan()
    if chunk_idx == 0:
        _plant_special_cases(plan, rng)
    _plant_background_range(plan, rng, lo, hi)
    pages = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for i, ((lang, word), recs) in enumerate(sorted(plan.page_records.items())):
        url = f"https://fixture.test/{lang}/{word}"
        clean = _page_text(rng, lang, word, recs)
        html_str = _dirty_html(rng, clean)
        pages["url"].append(url)
        pages["warc_ts"].append(_EPOCH + datetime.timedelta(seconds=chunk_idx * 1_000_000 + i))
        pages["html"].append(html_str.encode("utf-8"))
        pages["text"].append(html_str)
        pages["lang"].append(lang)
    part = Path(out_dir) / "pages.parquet" / f"part-{chunk_idx:04d}.parquet"
    pq.write_table(
        pa.table(
            {
                "url": pa.array(pages["url"], pa.string()),
                "warc_ts": pa.array(pages["warc_ts"], pa.timestamp("us", tz="UTC")),
                "html": pa.array(pages["html"], pa.binary()),
                "text": pa.array(pages["text"], pa.string()),
                "lang": pa.array(pages["lang"], pa.string()),
            }
        ),
        part,
        # small row groups = fine split granularity: the parquet scan can
        # then parallelize to any core count without a widening shuffle
        # (Spark splits scans at row-group boundaries)
        row_group_size=5000,
    )
    return str(part)


def build_bench_corpus(out_dir: str | Path, n_concepts: int, seed: int = 42,
                       workers: int = 8) -> str:
    """Parallel pages-only corpus for throughput benchmarking.

    Writes pages.parquet as a directory of parts (splittable, many files —
    the realistic crawl layout).  No plan/oracle tables: benchmarks measure
    throughput, correctness is the small fixture's job.
    """
    from multiprocessing import Pool

    out = Path(out_dir)
    (out / "pages.parquet").mkdir(parents=True, exist_ok=True)
    # bounded chunk size: worker memory stays flat however big the corpus is
    chunk = min(50_000, max(1, (n_concepts - 10) // workers + 1))
    jobs = []
    lo = 10
    idx = 0
    while lo < n_concepts:
        hi = min(lo + chunk, n_concepts)
        jobs.append((str(out), idx, lo, hi, seed))
        lo, idx = hi, idx + 1
    with Pool(min(workers, len(jobs))) as pool:
        pool.map(_chunk_pages, jobs)
    return str(out / "pages.parquet")


def build_fixture(out_dir: str | Path, n_concepts: int = 120, seed: int = 42) -> dict[str, str]:
    """Generate the fixture corpus into out_dir; returns table name -> path."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    plan = _Plan()
    _plant_special_cases(plan, rng)
    _plant_background(plan, rng, n_concepts)

    pages = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    expected = {"url": [], "text": []}
    for i, ((lang, word), records) in enumerate(sorted(plan.page_records.items())):
        url = f"https://fixture.test/{lang}/{word}"
        clean = _page_text(rng, lang, word, records)
        html_str = _dirty_html(rng, clean)
        html_bytes = html_str.encode("utf-8")
        if "�" in clean:
            # plant a genuinely invalid byte where the replacement char sits
            html_bytes = html_str.replace("�", "\x00").encode("utf-8").replace(b"\x00", b"\xff")
        pages["url"].append(url)
        pages["warc_ts"].append(_EPOCH + datetime.timedelta(seconds=i))
        pages["html"].append(html_bytes)
        pages["text"].append(html_str)
        pages["lang"].append(lang)
        expected["url"].append(url)
        expected["text"].append(clean)

    paths: dict[str, str] = {}

    def write(name: str, table: pa.Table) -> None:
        path = out / f"{name}.parquet"
        # modest row groups keep single-file fixtures splittable for Spark
        pq.write_table(table, path, row_group_size=20000)
        paths[name] = str(path)

    write(
        "pages",
        pa.table(
            {
                "url": pa.array(pages["url"], pa.string()),
                "warc_ts": pa.array(pages["warc_ts"], pa.timestamp("us", tz="UTC")),
                "html": pa.array(pages["html"], pa.binary()),
                "text": pa.array(pages["text"], pa.string()),
                "lang": pa.array(pages["lang"], pa.string()),
            }
        ),
    )
    write("expected_text", pa.table({k: pa.array(v) for k, v in expected.items()}))

    def rows_to_table(rows: list[dict], cols: list[str]) -> pa.Table:
        return pa.table({c: pa.array([r.get(c) for r in rows], pa.string()) for c in cols})

    write("plan_entry", rows_to_table(plan.entry, ["lexentry", "vocable", "written_rep", "lang"]))
    write("plan_pos", rows_to_table(plan.pos, ["lexentry", "part_of_speech", "lang"]))
    write("plan_gender", rows_to_table(plan.gender, ["lexentry", "gender", "lang"]))
    write("plan_pronun", rows_to_table(plan.pronun, ["lexentry", "pronun", "lang"]))
    write("plan_form", rows_to_table(plan.form, ["lexentry", "other_written", "lang"] + _FORM_COLS))
    write(
        "plan_translation",
        rows_to_table(
            plan.translation,
            ["lexentry", "sense_num", "sense", "trans", "kind", "from_lang", "to_lang"],
        ),
    )
    write("plan_nym", rows_to_table(plan.nym, ["f", "nym", "t_rep", "lang"]))
    return paths
