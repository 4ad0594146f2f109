"""S9: TEI/XML dictionary sink + sitemap sink.

Re-expression of the reference's TEI export (/root/reference/src/tei.py)
and sitemap export (/root/reference/src/sitemap.py) as a two-phase plan:

1. relational assembly (JVM-side, fully distributed): adaptive score gate,
   entry-dimension join, per-headword grouping with deterministically
   ordered sense rows, and pre-aggregated inflected-form lists — all the
   shuffles happen here, partitioned by (from_lang, to_lang, written_rep);
2. rendering (Arrow-batched pandas UDF): per-entry TEI XML string.  The
   reference renders imperatively (ElementTree + itertools.groupby over
   consecutive equal trans_lists, /root/reference/src/tei.py:295-356);
   that consecutive-group + escape logic is the one genuinely non-
   relational step, so it runs as a vectorized batch over the already-
   nested rows — never per-row Python in the shuffle path.

A dictionary document is one file per language pair by contract (the
reference writes `{iso3(from)}-{iso3(to)}.tei` via language_codes3,
tei.py:428-431).  Assembly is distributed: one repartition-by-pair job
streams each pair's sorted entries to its file executor-side — pairs
parallelize across the cluster like the reference's per-pair process
fan-out, without the driver ever holding a document.
"""

from __future__ import annotations

from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wikdict_gen_spark.operators.export import adaptive_min_score, strip_control_chars

# /root/reference/src/tei.py:54-71 — pos -> (TEI pos text, ontology anchor)
POS_MAPPING = {
    "adjective": ("adj", "FreeDict_ontology.xml#f_pos_adj"),
    "adverb": ("adv", "FreeDict_ontology.xml#f_pos_adv"),
    "noun": ("n", "FreeDict_ontology.xml#f_pos_noun"),
    "properNoun": ("pn", "FreeDict_ontology.xml#f_pos_noun"),
    "verb": ("v", "FreeDict_ontology.xml#f_pos_verb"),
}

# /root/reference/src/tei.py:73-78
GENDER_MAPPING = {
    "feminine": "fem",
    "masculine": "masc",
    "neuter": "neut",
    "commongender": "ut",
}

SENSE_SEP = " | "


# --------------------------------------------------------------------------
# phase 1: relational assembly
# --------------------------------------------------------------------------

def tei_entry_rows(
    translation_grouped: DataFrame,
    entry: DataFrame,
    form: DataFrame | None = None,
    min_score: float | None = None,
) -> DataFrame:
    """One row per TEI entry with nested, deterministically ordered senses.

    Mirrors the reference's driving query + groupby
    (/root/reference/src/tei.py:229-284): translations gated on the
    adaptive min score, joined to the entry dimension, grouped by
    (written_rep, part_of_speech, gender, pronun_list) with rows ordered
    by min_sense_num (NULLS FIRST, then sense_list/trans_list as the
    deterministic tiebreak sqlite leaves unspecified).  Inflected forms
    come from the *last* ordered row's lexentry — a reference quirk kept
    for parity (tei.py:271-282 reads `t["lexentry"]` after the loop).
    """
    t = translation_grouped
    if min_score is None:
        simple_shape = t.select(
            "from_lang", "to_lang", F.col("score").alias("max_score")
        )
        gate = F.broadcast(adaptive_min_score(simple_shape))
        t = t.join(gate, ["from_lang", "to_lang"]).where(
            F.col("score") >= F.col("min_score")
        ).drop("min_score")
    else:
        t = t.where(F.col("score") >= F.lit(float(min_score)))

    dim = entry.select(
        "lexentry",
        "part_of_speech",
        "gender",
        # null pronun_list -> null string -> no <pron> elements
        F.array_join(F.col("pronun_list"), SENSE_SEP).alias("pronun_str"),
    )
    joined = t.join(dim, "lexentry")

    # deterministic in-group order: min_sense_num NULLS FIRST, then lists
    sort_key = F.struct(
        F.col("min_sense_num").isNotNull().cast("int").alias("k0"),
        F.col("min_sense_num").alias("k1"),
        F.coalesce(F.col("sense_list"), F.lit("")).alias("k2"),
        F.coalesce(F.col("trans_list"), F.lit("")).alias("k3"),
    )
    grouped = joined.groupBy(
        "from_lang", "to_lang", "written_rep", "part_of_speech", "gender", "pronun_str"
    ).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        sort_key.alias("k"),
                        F.col("sense_list").alias("sense_list"),
                        F.col("trans_list").alias("trans_list"),
                        F.col("lexentry").alias("lexentry"),
                    )
                )
            ),
            lambda x: F.struct(
                x.sense_list.alias("sense_list"), x.trans_list.alias("trans_list")
            ),
        ).alias("senses"),
        F.max_by(
            F.col("lexentry"),
            sort_key,
        ).alias("form_lexentry"),
    )

    if form is not None:
        # min(rank) per (lexentry, other_written), ordered rank NULLS FIRST
        # (sqlite ORDER BY rank sorts NULL first, tei.py:274-278)
        best = (
            form.where(F.col("other_written").isNotNull())
            .groupBy("lexentry", "other_written")
            .agg(F.min("rank").alias("rank"))
        )
        fkey = F.struct(
            F.col("rank").isNotNull().cast("int").alias("k0"),
            F.col("rank").alias("k1"),
            F.col("other_written").alias("k2"),
        )
        forms_agg = best.groupBy("lexentry").agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            fkey.alias("k"),
                            F.col("other_written").alias("other_written"),
                            F.col("rank").alias("rank"),
                        )
                    )
                ),
                lambda x: F.struct(
                    x.other_written.alias("other_written"), x.rank.alias("rank")
                ),
            ).alias("inflected_forms")
        )
        grouped = grouped.join(
            forms_agg, grouped["form_lexentry"] == forms_agg["lexentry"], "left"
        ).drop(forms_agg["lexentry"])
    else:
        grouped = grouped.withColumn(
            "inflected_forms",
            F.lit(None).cast("array<struct<other_written:string,rank:int>>"),
        )
    return grouped.drop("form_lexentry")


# --------------------------------------------------------------------------
# phase 2: rendering (Arrow-batched)
# --------------------------------------------------------------------------

def _split_list(s: str | None) -> list[str]:
    # /root/reference/src/tei.py:162-165
    if s is None or s == "":
        return []
    return s.split(SENSE_SEP)


def _render_one(
    written_rep: str,
    part_of_speech: str | None,
    gender: str | None,
    pronun_str: str | None,
    senses: list,
    inflected_forms: list | None,
    to_lang: str,
) -> str:
    """Single TEI <entry> element, matching single_tei_entry + add_senses
    (/root/reference/src/tei.py:295-356) serialized the way the reference
    serializes it: `indent(entry, level=2)` puts children of <entry> at
    6 spaces and one 2-space level deeper per nesting level
    (tei.py:25-39,371), the wikdict:show attribute follows the reference's
    *truthy* rank check (rank=0 gets no attribute, tei.py:340), an empty
    <cit> self-closes the way ElementTree writes childless elements, and
    each entry carries the reference's inter-entry tail '\\n    ' so
    concatenated entries land on separate indented lines."""
    is_suffix = part_of_speech == "suffix" or (
        part_of_speech in ("", None) and written_rep.startswith("-")
    )
    orth = written_rep[1:] if is_suffix else written_rep
    pos_text = (
        "suffix"
        if is_suffix
        else POS_MAPPING.get(part_of_speech, (part_of_speech, None))[0]
    )
    pad2, pad3, pad4, pad5 = ("\n" + "  " * n for n in (2, 3, 4, 5))
    out: list[str] = ["<entry>"]

    # form block: orth, pronunciations, inflected forms
    out.append(pad3 + "<form>")
    out.append(pad4 + f"<orth>{escape(orth)}</orth>")
    for p in _split_list(pronun_str):
        out.append(pad4 + f"<pron>{escape(p)}</pron>")
    if inflected_forms is not None and len(inflected_forms) > 0:
        out.append(pad4 + '<form type="infl">')
        for fr in inflected_forms:
            attrs = ' wikdict:show="true"' if fr["rank"] else ""
            out.append(
                pad5 + f"<orth{attrs}>{escape(fr['other_written'])}</orth>"
            )
        out.append(pad4 + "</form>")
    out.append(pad3 + "</form>")

    # gramGrp
    gram: list[str] = []
    if pos_text:
        gram.append(pad4 + f"<pos>{escape(pos_text)}</pos>")
    if gender:
        gram.append(pad4 + f"<gen>{GENDER_MAPPING[gender.lower()]}</gen>")
    if gram:
        out.append(pad3 + "<gramGrp>" + "".join(gram) + pad3 + "</gramGrp>")

    # senses: expand sense_list per row, then group CONSECUTIVE equal
    # trans_lists (itertools.groupby semantics, tei.py:296)
    expanded: list[tuple[str | None, str | None]] = []  # (gloss, trans_list)
    for row in senses:
        sense_items = _split_list(row["sense_list"]) or [None]
        for g in sense_items:
            expanded.append((g, row["trans_list"]))
    i = 0
    while i < len(expanded):
        j = i
        while j < len(expanded) and expanded[j][1] == expanded[i][1]:
            j += 1
        group = expanded[i:j]
        trans_list = _split_list(group[0][1])
        out.append(pad3 + "<sense>")
        if trans_list:
            out.append(pad4 + f'<cit type="trans" xml:lang="{to_lang}">')
            for trans in trans_list:
                if is_suffix:
                    trans = trans[1:]
                out.append(pad5 + f"<quote>{escape(trans)}</quote>")
            out.append(pad4 + "</cit>")
        else:
            # childless element: ElementTree self-closes (tei.py:300)
            out.append(pad4 + f'<cit type="trans" xml:lang="{to_lang}" />')
        for gloss, _ in group:
            if gloss:
                out.append(pad4 + "<sense>")
                out.append(pad5 + f"<def>{escape(gloss)}</def>")
                out.append(pad4 + "</sense>")
        out.append(pad3 + "</sense>")
        i = j
    # closing tag at entry's own indent, then the reference's inter-entry
    # tail (tostring serializes the element INCLUDING its tail)
    out.append(pad2 + "</entry>" + pad2)
    return "".join(out)


def tei_entry_xml(entry_rows: DataFrame) -> DataFrame:
    """(from_lang, to_lang, written_rep, entry_xml) — distributed render."""

    @pandas_udf("string")
    def render(
        written_rep: pd.Series,
        part_of_speech: pd.Series,
        gender: pd.Series,
        pronun_str: pd.Series,
        senses: pd.Series,
        inflected_forms: pd.Series,
        to_lang: pd.Series,
    ) -> pd.Series:
        vals = [
            _render_one(w, p, g, pr, s, infl, tl)
            for w, p, g, pr, s, infl, tl in zip(
                written_rep, part_of_speech, gender, pronun_str,
                senses, inflected_forms, to_lang,
            )
        ]
        return pd.Series(vals, dtype="object")

    rendered = entry_rows.withColumn(
        "entry_xml",
        strip_control_chars(
            render(
                "written_rep", "part_of_speech", "gender", "pronun_str",
                "senses", "inflected_forms", "to_lang",
            )
        ),
    )
    return rendered.select("from_lang", "to_lang", "written_rep", "entry_xml")


# --------------------------------------------------------------------------
# document assembly
# --------------------------------------------------------------------------

# The P5 template — the reference's output-format spec verbatim
# (/root/reference/src/tei.py:81-159): full fileDesc (respStmt, publisher,
# sourceDesc), encodingDesc with the tagUsage declarations ({pos_usage} is
# the static pos_mapping inventory, ref tei.py:382-384), revisionDesc, and
# the <wikdict:dummy /> namespace anchor the render strips afterwards.
# {{entries}} survives the first .format and is the body splice point.
TEI_TEMPLATE = """
<TEI xmlns="http://www.tei-c.org/ns/1.0" xmlns:wikdict="http://www.wikdict.com/ns/1.0">
  <teiHeader xml:lang="en">
    <fileDesc>
      <titleStmt>
        <title>{from_name}-{to_name} FreeDict+WikDict dictionary</title>
        <respStmt>
          <resp>Maintainer</resp>
          <name xml:id="karlb">Karl Bartel</name>
        </respStmt>
      </titleStmt>
      <editionStmt><edition>{version}</edition></editionStmt>
      <extent>{headwords} headwords</extent>
      <publicationStmt>
        <publisher>Karl Bartel</publisher>
        <availability status="free">
          <p>Licensed under the <ref target="https://creativecommons.org/licenses/by-sa/3.0/legalcode">Creative Commons Attribution-ShareAlike 3.0 Unported</ref> license</p>
        </availability>
        <date>{today}</date>
      </publicationStmt>
      <notesStmt>
        <note type="status">{status}</note>
      </notesStmt>
      <sourceDesc>
        <p>Automatic creation of this bilingual dictionary by <ref target="http://www.wikdict.com/">WikDict</ref>.</p>
        <p>Base data from <ref target="https://www.wiktionary.org/">Wiktionary.org</ref> via <ref target="http://kaiko.getalp.org/about-dbnary/">DBnary</ref>.</p>
      </sourceDesc>
    </fileDesc>
    <encodingDesc>
      <projectDesc>
        <p>
          This dictionary comes to you through nice people
          making it available for free and for good. It is part of
          the FreeDict project, http://www.freedict.org/. This
          project aims to make available many translating
          dictionaries for free. Your contributions are welcome!
        </p>
      </projectDesc>
      <tagsDecl>
        <!-- for each gi, its values are listed, with a pointer to the ontology interface -->
        <namespace name="http://www.tei-c.org/ns/1.0" xml:base="../shared/">
          <tagUsage gi="pos">
            <list n="values" type="bulleted">
              {pos_usage}
            </list>
          </tagUsage>
          <tagUsage gi="gen">
            <list>
              <item ana="FreeDict_ontology.xml#f_gen_fem">fem</item>
              <item ana="FreeDict_ontology.xml#f_gen_masc">masc</item>
              <item ana="FreeDict_ontology.xml#f_gen_neut">neut</item>
            </list>
          </tagUsage>
        </namespace>
      </tagsDecl>
    </encodingDesc>
    <revisionDesc>
      <change when="2018-09-12" who="#karlb">
        Change numbering scheme from YYYY-MM-DD to YYYY.MM.DD
      </change>
      <change when="2018-05-15" who="#karlb">
        Add links to sourceDesc
      </change>
      <change when="2017-12-15" who="#karlb">
        Add changelog
      </change>
      <change when="2017-11-22" who="#karlb">
        Use ref tag to encode license URL
      </change>
    </revisionDesc>
    <wikdict:dummy />
  </teiHeader>
  <text>
    <body xml:lang="{from_lang}">
      {{entries}}
    </body>
  </text>
</TEI>
"""

# written verbatim before the rendered tree (ref tei.py:432-442 writes this
# block stripped + '\n'; ET.tostring(..., 'utf-8') emits no declaration on
# this Python, so these are the file's only declarations — matches the
# checked-in golden)
TEI_FILE_DECLARATIONS = """<?xml version="1.0" encoding="UTF-8"?>
<?xml-stylesheet type="text/css" href="freedict-dictionary.css"?>
<?oxygen RNGSchema="freedict-P5.rng" type="xml"?>
<!DOCTYPE TEI SYSTEM "freedict-P5.dtd">
"""


def _indent_tree(elem, level: int = 0) -> None:
    """The reference's whitespace normalization (ref tei.py:25-39, the
    classic ElementTree indent recipe): two spaces per level, filling only
    empty/whitespace-only text and tails, so the template's significant
    text (the {entries} splice line) survives untouched."""
    pad = "\n" + level * "  "
    if len(elem):
        if not elem.text or not elem.text.strip():
            elem.text = pad + "  "
        if not elem.tail or not elem.tail.strip():
            elem.tail = pad
        child = None
        for child in elem:
            _indent_tree(child, level + 1)
        if not child.tail or not child.tail.strip():
            child.tail = pad
    elif level and (not elem.tail or not elem.tail.strip()):
        elem.tail = pad


def render_pair_template(
    from_lang: str,
    from_name: str,
    to_name: str,
    headwords: int,
    today: str,
) -> tuple[str, str]:
    """(header, footer) strings for one dictionary file.

    Byte-parity with the reference's write_tei_dict (tei.py:385-444): fill
    the template, round-trip it through ElementTree (parse -> indent ->
    tostring(utf-8)) for canonical header indentation — tostring emits NO
    XML declaration on this Python, so the only declarations in the file
    are the TEI_FILE_DECLARATIONS block written ahead of the header
    (matching the checked-in golden) — strip the <wikdict:dummy />
    namespace anchor, and split at the {entries} placeholder the first
    .format left behind.  Driver-side, once per pair — microseconds against a 100-TB
    body, so the imperative ElementTree pass is free.
    """
    import xml.etree.ElementTree as ET

    pos_usage = "".join(
        f'<item ana="{anchor}">{text}</item>'
        for text, anchor in POS_MAPPING.values()
    )
    ET.register_namespace("", "http://www.tei-c.org/ns/1.0")
    ET.register_namespace("wikdict", "http://www.wikdict.com/ns/1.0")
    tree = ET.XML(
        TEI_TEMPLATE.format(
            from_name=from_name,
            to_name=to_name,
            headwords=headwords,
            from_lang=from_lang,
            today=today,
            version=today.replace("-", "."),
            pos_usage=pos_usage,
            status=dict_status(headwords),
        )
    )
    _indent_tree(tree)
    rendered = ET.tostring(tree, "utf-8").decode("utf-8")
    rendered = rendered.replace("<wikdict:dummy />", "")
    head, tail = rendered.split("{entries}")
    return TEI_FILE_DECLARATIONS + head, tail


# pairs with fewer headwords are written under small/
_SMALL_THRESHOLD = 5000


def dict_status(headwords: int) -> str:
    # /root/reference/src/tei.py:393-398
    if headwords >= 10000:
        return "big enough to be useful"
    if headwords < 1000:
        return "too small"
    return "unknown"


def write_tei(
    entry_xml: DataFrame,
    out_dir: str,
    today: str,
    language_names: dict[str, str] | None = None,
) -> dict[str, int]:
    """Write one TEI file per language pair; returns {pair: headwords}.

    Filenames follow the reference's distribution contract
    (/root/reference/src/tei.py:428-431): ISO-639-3 codes from the
    language registry (`deu-eng.tei`), unknown codes passing through;
    header names default to the registry's native display names.

    Distributed assembly, one Spark job: repartition on the pair key +
    sortWithinPartitions gives every task its pairs as contiguous sorted
    runs, and each task streams its runs straight to the final files —
    header (headword count from a tiny pre-collected aggregate), entries
    in written_rep order, footer — via a temp file and an atomic rename.
    The driver touches only the {pair: count} dict, never an entry body
    (round 2 ran one collect-and-join loop per pair on the driver: 650
    serial jobs, whole documents in driver memory).  On a multi-host
    cluster `out_dir` must be shared storage, the same contract as any
    file sink.
    """
    from pathlib import Path

    from pyspark import StorageLevel

    from wikdict_gen_spark import languages as langreg

    names = dict(language_names) if language_names is not None else dict(langreg.LANGUAGE_NAMES)
    codes3 = dict(langreg.LANGUAGE_CODES3)

    # one materialization serves both the count aggregate and the file
    # fan-out (without it the full render plan executes twice)
    entry_xml = entry_xml.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts: dict[str, int] = {
            f"{r['from_lang']}-{r['to_lang']}": r["n"]
            for r in entry_xml.groupBy("from_lang", "to_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        Path(out_dir).mkdir(parents=True, exist_ok=True)
        # per-pair header/footer rendered driver-side (650 tiny strings);
        # executors only ever stream entry bodies between them
        frames: dict[str, tuple[str, str]] = {}
        for pair_key, headwords in counts.items():
            from_lang, to_lang = pair_key.split("-", 1)
            frames[pair_key] = render_pair_template(
                from_lang,
                names.get(from_lang, from_lang),
                names.get(to_lang, to_lang),
                headwords,
                today,
            )

        def write_runs(rows) -> None:
            import os
            from pathlib import Path as P

            cur = None
            f = None
            tmp_path = final_path = footer = None

            def finish() -> None:
                nonlocal f
                if f is None:
                    return
                f.write(footer)
                f.close()
                os.replace(tmp_path, final_path)
                f = None

            try:
                for r in rows:
                    pair = (r["from_lang"], r["to_lang"])
                    if pair != cur:
                        finish()
                        cur = pair
                        from_lang, to_lang = pair
                        key = f"{from_lang}-{to_lang}"
                        headwords = counts[key]
                        header, footer = frames[key]
                        sub = P(out_dir) / ("small" if headwords < _SMALL_THRESHOLD else "")
                        sub.mkdir(parents=True, exist_ok=True)
                        fname = f"{codes3.get(from_lang, from_lang)}-{codes3.get(to_lang, to_lang)}.tei"
                        final_path = str(sub / fname)
                        tmp_path = final_path + f".tmp-{os.getpid()}"
                        f = open(tmp_path, "w", encoding="utf-8")
                        f.write(header)
                    f.write(r["entry_xml"])
                finish()
            except BaseException:
                # task died mid-file: close and remove the orphan tmp so a
                # retry (or the user) never sees a half-written .tmp-<pid>
                if f is not None:
                    f.close()
                    if tmp_path is not None and os.path.exists(tmp_path):
                        os.unlink(tmp_path)
                raise

        (
            # one partition per pair (not the default shuffle partition
            # count): at the full 650-pair fan-out, hash-packing several
            # pairs into one task serializes them behind each other, so the
            # straggler bound becomes the largest single pair — the
            # one-file-per-pair contract's irreducible unit of work
            entry_xml.repartition(max(len(counts), 1), "from_lang", "to_lang")
            .sortWithinPartitions("from_lang", "to_lang", "written_rep", "entry_xml")
            .foreachPartition(write_runs)
        )
    finally:
        entry_xml.unpersist()
    return counts


# --------------------------------------------------------------------------
# sitemap sink (/root/reference/src/sitemap.py) — fully JVM-side
# --------------------------------------------------------------------------

SITEMAP_TMPL = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
{}
</urlset>"""

# rel_importance floor of a sitemap headword (ref sitemap.py)
_SITEMAP_MIN_IMPORTANCE = 4.0

SITEMAP_INDEX_TMPL = """<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
{}
</sitemapindex>"""


def sitemap_xml(simple_translation: DataFrame, k: int = 100) -> DataFrame:
    """One row per lang pair: the rendered sitemap XML body.

    Top-k headwords per pair with rel_importance > floor ordered by
    importance*score desc (ref sitemap.py:26), URL pair is the SORTED lang
    pair (sitemap.py:28).  Rendering is pure column concat — no UDF.
    """
    from pyspark.sql import Window

    ranked = (
        simple_translation.where(F.col("rel_importance") > _SITEMAP_MIN_IMPORTANCE)
        .withColumn("__key", F.col("rel_importance") * F.col("max_score"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("from_lang", "to_lang").orderBy(
                    F.col("__key").desc(), F.col("written_rep")
                )
            ),
        )
        .where(F.col("__rn") <= k)
    )
    sorted_pair = F.concat_ws(
        "-",
        F.least(F.col("from_lang"), F.col("to_lang")),
        F.greatest(F.col("from_lang"), F.col("to_lang")),
    )
    url = F.concat(
        F.lit("  <url>\n    <loc>https://www.wikdict.com/"),
        sorted_pair,
        F.lit("/"),
        strip_control_chars(F.col("written_rep")),
        F.lit("</loc>\n    <changefreq>monthly</changefreq>\n  </url>"),
    )
    per_pair = ranked.groupBy("from_lang", "to_lang").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__rn").alias("rn"), url.alias("u")))
                ),
                lambda x: x.u,
            ),
            "\n",
        ).alias("urls")
    )
    head, tail = SITEMAP_TMPL.split("{}")
    return per_pair.select(
        "from_lang",
        "to_lang",
        F.concat(F.lit(head), F.col("urls"), F.lit(tail)).alias("sitemap_xml"),
    )


def sitemap_index_xml(pairs: list[str], today: str) -> str:
    """Driver-side index document over the per-pair sitemap files."""
    items = "\n".join(
        f"  <sitemap>\n    <loc>https://www.wikdict.com/static/sitemap/{p}.xml</loc>\n"
        f"    <lastmod>{today}</lastmod>\n  </sitemap>"
        for p in pairs
    )
    return SITEMAP_INDEX_TMPL.format(items)
