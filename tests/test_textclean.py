# -*- coding: utf-8 -*-
"""Golden-case tests for the scalar text-cleaning contract.

The in/out pairs are the reference's published test vectors
(/root/reference/src/tests/test_parse.py) — they define the byte-identical
extraction invariant and are ported verbatim as data.
"""

import pytest

from wikdict_gen_spark.functions.textclean import (
    clean_html,
    clean_inflection,
    clean_wiki_syntax,
    is_dummy_sense,
    normalize_sense_num,
    parse_sense,
    strip_gloss_trailer,
    surface_guess,
)


class TestCleanHtml:
    def test_entity(self):
        assert (
            clean_html("die Art und Weise des Herabhängens von Stoffen o.&nbsp;Ä.")
            == "die Art und Weise des Herabhängens von Stoffen o.\xa0Ä."
        )

    def test_subscript(self):
        assert (
            clean_html(
                "Gruppenformel CH<sub>3</sub>–(CH<sub>2</sub>)<sub>8</sub>–</small/>COOH"
            )
            == "Gruppenformel CH₃–(CH₂)₈–COOH"
        )

    def test_superscript(self):
        assert clean_html("x<sup>2</sup> + y<sup>3</sup>") == "x² + y³"

    def test_multichar_sub_not_mapped(self):
        # only single digits 1-9 map; longer spans pass through
        assert clean_html("CH<sub>12</sub>") == "CH12"

    def test_ref(self):
        assert clean_html(
            'Beschlag aus Holz, Knochen oder Metall<ref name="Grabungswörterbuch">'
            "Grabungswörterbuch, Stichwort [http://ausgraeberei.de/woerterbuch/index.html"
            "?Infodeu/Riemenzunge.htm Riemenzunge]</ref> am (herabhängenden"
            '<ref name="TemporaNostra">Tempora Nostra: Mode im Hochmittelalter, Lexikon '
            "[http://www.gewandung.de/gewandung/index.php?id=lx_riemenzunge&kontextId=178"
            '&kontextNav=1 Riemenzunge]</ref>) Ende eines Gürtels, zur Verstärkung'
            '<ref name="Grabungswörterbuch" /> und Beschwerung<ref name="TemporaNostra" />'
        ) == (
            "Beschlag aus Holz, Knochen oder Metall am (herabhängenden) Ende eines "
            "Gürtels, zur Verstärkung und Beschwerung"
        )

    def test_entities_decoded_without_tags(self):
        # golden contract: entities decode even in tag-free text
        assert clean_html("a &nbsp; b") == "a \xa0 b"

    def test_fast_path_plain(self):
        assert clean_html("plain text, no markup") == "plain text, no markup"

    def test_none(self):
        assert clean_html(None) is None


class TestCleanWikiSyntax:
    def test_bold_and_italics(self):
        assert (
            clean_wiki_syntax("Brunnen mit ''Spring''fontänen")
            == "Brunnen mit Springfontänen"
        )
        assert clean_wiki_syntax("'''V'''ereinte '''N'''ationen") == "Vereinte Nationen"
        assert clean_wiki_syntax("Karl's test case") == "Karl's test case"

    def test_noise_at_start(self):
        assert clean_wiki_syntax(": Gesamtheit, alle ") == "Gesamtheit, alle"

    @pytest.mark.parametrize(
        "wiki,out",
        [
            ("Qui est en [[âge]] de se [[marier]]", "Qui est en âge de se marier"),
            ("Voir [[sauter#fr|sauter]]", "Voir sauter"),
            ("[[bloc de béton]]", "bloc de béton"),
            ("[[ojentaa]] ([[käsi|käte]][[-nsa|nsä]])", "ojentaa (kätensä)"),
            ("[[à tes souhaits!]]", "à tes souhaits!"),
            (
                "ruoskia [[yhdeksänhäntäinen kissa|yhdeksänhäntäisellä kissalla]]",
                "ruoskia yhdeksänhäntäisellä kissalla",
            ),
            ("[[античен|Антична]]", "Антична"),
            ("[[falsch positiv|falsch positives]]", "falsch positives"),
            ("[[[[gå]] av]]", "gå av"),
        ],
    )
    def test_double_brackets(self, wiki, out):
        assert clean_wiki_syntax(wiki) == out

    def test_braces_nocat(self):
        assert (
            clean_wiki_syntax("Saillir une femelle (la féconder).|9 {{trans|nocat=1")
            == "Saillir une femelle (la féconder)."
        )

    def test_braces_not_closed(self):
        assert clean_wiki_syntax("word {{template|arg") == "word"


class TestDummySense:
    @pytest.mark.parametrize(
        "d",
        [
            "Traductions à trier suivant le sens",
            "Traductions à trier suivant le sens.",
            "Traductions à trier",
            "À trier",
            "à trier",
            "Traduction à trier",
            "Traductions à vérifier et à trier",
            "À trier selon le sens",
            "Traductions à classer d’après le sens",
            "traduction à classer",
            "A trier",
            "Autres sens à trier",
        ],
    )
    def test_dummies(self, d):
        assert is_dummy_sense(d, "fr") is True

    def test_not_dummy(self):
        assert is_dummy_sense("Le sense", "fr") is False

    def test_other_lang_never_dummy(self):
        assert is_dummy_sense("à trier", "de") is False


class TestCleanInflection:
    def test_de(self):
        assert clean_inflection("er/sie/es geht", "de") == "geht"
        assert clean_inflection("es ist schön", "de") == "schön"
        assert clean_inflection("wirf!", "de") == "wirf"
        assert clean_inflection("die Bäume", "de") == "Bäume"

    def test_identity_other_lang(self):
        assert clean_inflection("die Bäume", "en") == "die Bäume"


class TestSenseNum:
    def test_basic(self):
        assert normalize_sense_num("3") == "03"
        assert normalize_sense_num("3a") == "03a"
        assert normalize_sense_num("12") == "12"
        assert normalize_sense_num(None) is None
        assert normalize_sense_num("") is None

    def test_bad_input_raises(self):
        with pytest.raises(ValueError):
            normalize_sense_num("abc")


class TestParseSense:
    def test_pipeline(self):
        assert parse_sense("  ''gloss'' with [[link|text]]  ", "de") == "gloss with text"

    def test_empty_is_none(self):
        assert parse_sense("", "de") is None
        assert parse_sense("   ", "de") is None
        assert parse_sense(None, "de") is None

    def test_fr_dummy_is_none(self):
        assert parse_sense("Traductions à trier", "fr") is None
        assert parse_sense("Traductions à trier", "de") == "Traductions à trier"


class TestGlossTrailer:
    @pytest.mark.parametrize(
        "raw,out",
        [
            ("manger (1)", "manger"),
            ("manger|2", "manger"),
            ("manger.:", "manger"),
            ("manger:", "manger"),
            ("manger", "manger"),
            ("manger. (3):", "manger"),
        ],
    )
    def test_trailer(self, raw, out):
        assert strip_gloss_trailer(raw) == out


class TestSurfaceGuess:
    def test_guess(self):
        assert surface_guess("deu/Haus") == "Haus"
        assert surface_guess("eng/ice_cream") == "ice cream"
