"""End-to-end pipeline tests: oracle parity, planted semantic cases,
triple P/R, determinism, resume idempotency."""

import pytest
from pyspark.sql import functions as F

from tests.oracle import Oracle
from wikdict_gen_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def built(spark, fixture_dir, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipeline")
    out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work))
    return out


@pytest.fixture(scope="module")
def oracle(fixture_dir):
    return Oracle(fixture_dir)


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


ALL_TRANS_COLS = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                  "from_vocable", "to_vocable"]


class TestOracleParity:
    def test_all_trans(self, built, oracle):
        got = _rows(built["all_trans"], ALL_TRANS_COLS)
        want = {tuple(r[c] for c in ALL_TRANS_COLS) for r in oracle.all_trans}
        assert got == want

    def test_all_trans_importances(self, built, oracle):
        got = {
            tuple(r[c] for c in ALL_TRANS_COLS): (r["from_importance"], r["to_importance"])
            for r in built["all_trans"].collect()
        }
        for r in oracle.all_trans:
            k = tuple(r[c] for c in ALL_TRANS_COLS)
            assert got[k][0] == pytest.approx(r["from_importance"], rel=1e-9)
            assert got[k][1] == pytest.approx(r["to_importance"], rel=1e-9)

    def test_backlink(self, built, oracle):
        got = {
            (r["from_lang"], r["to_lang"], r["from_vocable"], r["to_vocable"],
             r["back_sense"]): r["backlink_score"]
            for r in built["backlink"].collect()
        }
        assert set(got) == set(oracle.backlink)
        for k, v in oracle.backlink.items():
            assert got[k] == pytest.approx(v, rel=1e-12)

    def test_infer_fusion(self, built, oracle):
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                "from_vocable", "to_vocable"]
        got = {
            tuple(r[c] for c in cols): (r["score"], tuple(r["sources"]),
                                        tuple(r["source_details"]))
            for r in built["infer"].collect()
        }
        want = {
            tuple(r[c] for c in cols): (r["score"], tuple(r["sources"]),
                                        tuple(r["source_details"]))
            for r in oracle.infer
        }
        assert set(got) == set(want)
        for k, (score, sources, details) in want.items():
            g_score, g_sources, g_details = got[k]
            assert g_score == pytest.approx(score, rel=1e-9), k
            assert g_sources == sources, k
            assert g_details == details, k

    def test_infer_grouped(self, built, oracle):
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense", "from_vocable"]
        got = {
            tuple(r[c] for c in cols): (r["trans_list"], r["score"])
            for r in built["infer_grouped"].collect()
        }
        want = {
            tuple(r[c] for c in cols): (r["trans_list"], r["score"])
            for r in oracle.infer_grouped
        }
        assert set(got) == set(want)
        for k, (tl, score) in want.items():
            assert got[k][0] == tl, k
            assert got[k][1] == pytest.approx(score, rel=1e-9), k

    def test_triple_precision_recall(self, built, oracle):
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in built["kg_edges"].where(F.col("pred") == "translatesTo").collect()
        }
        want = oracle.expected_translation_triples()
        tp = len(got & want)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(want) if want else 0.0
        assert precision >= 0.95, f"precision {precision}"
        assert recall >= 0.95, f"recall {recall}"
        # at toy scale the match must be exact
        assert got == want


class TestPlantedCases:
    """Mirrors the reference's end-to-end expectations (test_results.py analogs)."""

    def test_true_pivot_found(self, built):
        rows = (
            built["infer_grouped"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "degehen")
            )
            .collect()
        )
        matches = [r for r in rows if "svgaa" in r["trans_list"]]
        assert matches, "true pivot de->sv degehen->svgaa missing"
        assert max(r["score"] for r in matches) >= 20

    def test_false_friend_suppressed(self, built):
        rows = (
            built["infer_grouped"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "degehen")
            )
            .collect()
        )
        assert all("svaaka" not in r["trans_list"] for r in rows)

    def test_reverse_fallback(self, built):
        rows = (
            built["infer"]
            .where(
                (F.col("from_lang") == "de") & (F.col("to_lang") == "sv")
                & (F.col("from_vocable") == "derueck") & (F.col("to_vocable") == "svrueck")
            )
            .collect()
        )
        assert len(rows) == 1
        assert rows[0]["sources"] == ["direct_reverse"]
        assert rows[0]["score"] == 2.0

    def test_sense_beats_gloss(self, built):
        rows = (
            built["all_trans"]
            .where((F.col("lexentry") == "deu/dehaus__noun__1") & (F.col("to_lang") == "en"))
            .collect()
        )
        senses = {r["sense"] for r in rows}
        assert "building" in senses
        assert "rough gloss building" not in senses

    def test_fr_dummy_sense_nulled(self, built):
        rows = (
            built["all_trans"]
            .where((F.col("from_lang") == "fr") & (F.col("from_vocable") == "frmaison"))
            .collect()
        )
        assert rows and all(r["sense"] == "" for r in rows)

    def test_gender_conflict_null(self, built):
        row = built["entry"].where(F.col("lexentry") == "deu/dekonflikt__noun__1").collect()
        assert row[0]["gender"] is None

    def test_inflection_cleaning_and_rank(self, built):
        forms = {r["other_written"]: r for r in built["form"].collect()}
        assert "degeht" in forms  # er/sie/es stripped
        assert forms["degeht"]["rank"] == 1
        assert "degeh" in forms  # trailing ! stripped
        assert "dehäuser" in forms  # article stripped
        assert forms["dehäuser"]["rank"] == 2
        assert forms["dehauses"]["rank"] is None  # no matching display slot

    def test_alias_cluster_canonical(self, built):
        mapping = {r["node"]: r["canonical"] for r in built["canonical"].collect()}
        expect_root = min(
            ["deu/dehaus"] + [f"deu/dealias{i}" for i in range(9)]
        )
        for i in range(9):
            assert mapping[f"deu/dealias{i}"] == expect_root
        assert mapping["deu/dehaus"] == expect_root

    def test_pos_crossed_synonym_not_linked(self, built):
        """F6: a verb synonym naming the noun hub's surface must not merge."""
        mapping = {r["node"]: r["canonical"] for r in built["canonical"].collect()}
        # dexpos produced no alias edge at all, so it's absent or self-rooted
        assert mapping.get("deu/dexpos", "deu/dexpos") == "deu/dexpos"
        edges = built["alias_edges"].collect()
        assert not any("dexpos" in (r["u"], r["v"]) for r in edges)

    def test_abbreviation_excluded_from_importance(self, built):
        """F6: abbreviation lexentries score no importance; their
        translations drop at the inner from-importance join."""
        imp = built["importance"].where(F.col("vocable") == "deu/deabk").collect()
        assert imp == []
        trans = built["all_trans"].where(
            F.col("lexentry") == "deu/deabk__abbreviation__1"
        ).collect()
        assert trans == []


class TestDeterminismAndResume:
    def test_rerun_identical(self, spark, fixture_dir, built, tmp_path_factory):
        """Fresh run in a new workdir (different partitioning of work) must
        produce identical grouped results, incl. ordered aggregations."""
        work2 = tmp_path_factory.mktemp("pipeline2")
        out2 = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work2))
        cols = ["from_lang", "to_lang", "lexentry", "sense_num", "sense",
                "from_vocable", "trans_list", "score"]
        assert _rows(built["infer_grouped"], cols) == _rows(out2["infer_grouped"], cols)

    def test_fused_mode_identical(self, spark, fixture_dir, built, tmp_path_factory):
        """The fused (cache-only, terminal-write) mode must produce the same
        graph as the checkpointed mode."""
        work = tmp_path_factory.mktemp("pipeline_fused")
        out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work), fused=True)
        cols = ["subj", "pred", "obj"]
        assert _rows(out["kg_edges"], cols) == _rows(built["kg_edges"], cols)
        spark.catalog.clearCache()

    def test_resume_after_partial(self, spark, fixture_dir, built, tmp_path_factory):
        """Stop after an early stage, resume: final snapshot identical and
        committed stages are not recomputed (verified via marker mtimes)."""
        import os

        work3 = tmp_path_factory.mktemp("pipeline3")
        run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3), stop_after="all_trans")
        marker = os.path.join(work3, "all_trans", "_COMMITTED")
        mtime_before = os.path.getmtime(marker)
        out3 = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3))
        assert os.path.getmtime(marker) == mtime_before  # not recomputed
        cols = ["subj", "pred", "obj"]
        assert _rows(out3["kg_edges"], cols) == _rows(built["kg_edges"], cols)
        # every cut stage after the resume point must ALSO be durably
        # committed — guards against any mode-flag regression that silently
        # drops the back half of the pipeline to the uncommitted in-memory
        # path (lazy chain stages such as infer_grouped commit nothing)
        for stage in ["infer", "simple_translation", "canonical", "kg_edges", "kg_nodes"]:
            assert os.path.exists(os.path.join(work3, stage, "_COMMITTED")), stage
        # resume past the terminal stage touches nothing: all markers stable
        mtimes = {
            s: os.path.getmtime(os.path.join(work3, s, "_COMMITTED"))
            for s in ["infer", "kg_edges", "kg_nodes"]
        }
        run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work3))
        for s, m in mtimes.items():
            assert os.path.getmtime(os.path.join(work3, s, "_COMMITTED")) == m, s
