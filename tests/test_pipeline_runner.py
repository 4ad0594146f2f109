"""Stage-table runner (wikdict_gen_spark/pipeline.py): fused and
checkpointed modes agreeing on the connected-components stages, a CC
failure raising from run_pipeline itself, stop_after and pages-schema
validation, the lineage-cut rule (commits for exactly `CUT_STAGES` plus
the stop_after target, none in fused mode, no CC on a resume), and the
per-table `_metrics` the checkpointed mode records."""

import os

import pytest

from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize
from wikdict_gen_spark.pipeline import CUT_STAGES, run_pipeline


def _same_rows(a, b):
    cols = sorted(a.columns)
    a, b = a.select(cols), b.select(cols)
    return a.count() == b.count() and a.exceptAll(b).isEmpty()


@pytest.fixture(scope="module")
def checkpointed(spark, fixture_dir, tmp_path_factory):
    work = tmp_path_factory.mktemp("runner_ckpt")
    return str(work), run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work))


def test_fused_cc_stages_match_checkpointed(spark, fixture_dir, checkpointed,
                                            tmp_path_factory):
    """alias_edges, canonical, kg_nodes and kg_edges are the same rows when
    fused mode builds them without a commit, and fused mode never creates
    its workdir."""
    _, ckpt = checkpointed
    work = tmp_path_factory.mktemp("runner_fused") / "absent"
    fused = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work), fused=True)
    for name in ["alias_edges", "canonical", "kg_nodes", "kg_edges"]:
        assert _same_rows(fused[name], ckpt[name]), name
    assert not work.exists()
    spark.catalog.clearCache()


def test_cc_failure_raises_from_run_pipeline(spark, fixture_dir, tmp_path_factory,
                                            monkeypatch):
    """Fused mode runs CC in its loop like every other stage: the original
    error comes out of run_pipeline, after one attempt and no retry."""
    calls = []

    def broken(edges):
        calls.append(edges)
        raise OSError(f"executor lost #{len(calls)}")

    monkeypatch.setattr(canonicalize, "connected_components", broken)
    work = tmp_path_factory.mktemp("runner_cc_fail")
    with pytest.raises(OSError, match="executor lost #1"):
        run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work), fused=True)
    assert len(calls) == 1
    spark.catalog.clearCache()


def _markers(workdir):
    return {name: os.path.getmtime(os.path.join(workdir, name, "_COMMITTED"))
            for name in os.listdir(workdir)
            if os.path.exists(os.path.join(workdir, name, "_COMMITTED"))}


def test_rerun_over_finished_workdir_skips_cc(spark, fixture_dir, checkpointed, monkeypatch):
    """`canonical` is committed, so a re-run reads it back: the eager CC
    loop never runs again and no marker is rewritten."""
    workdir, _ = checkpointed
    before = _markers(workdir)

    def broken(edges):
        raise AssertionError("connected_components re-ran on a finished workdir")

    monkeypatch.setattr(canonicalize, "connected_components", broken)
    out = run_pipeline(spark, f"{fixture_dir}/pages.parquet", workdir)
    out["kg_nodes"].count()
    assert _markers(workdir) == before


def test_stop_after_outside_cut_set_commits_it(spark, fixture_dir, tmp_path_factory):
    """A stop_after target is committed even when it is a lazy chain stage,
    and the resume past it leaves its marker untouched."""
    assert "translation_graded" not in CUT_STAGES
    work = str(tmp_path_factory.mktemp("runner_stop_graded"))
    pages = f"{fixture_dir}/pages.parquet"
    run_pipeline(spark, pages, work, stop_after="translation_graded")
    first = _markers(work)
    assert "translation_graded" in first and "infer_grouped" not in first
    run_pipeline(spark, pages, work)
    after = _markers(work)
    assert set(after) == CUT_STAGES | {"translation_graded"}
    assert {name: after[name] for name in first} == first


def test_unknown_stop_after_rejected_before_spark(tmp_path):
    work = tmp_path / "never_created"
    # spark=None: the check must fire before the session is touched
    with pytest.raises(ValueError, match="all_tran") as err:
        run_pipeline(None, str(tmp_path / "pages.parquet"), str(work), stop_after="all_tran")
    assert "all_trans" in str(err.value) and "kg_nodes" in str(err.value)
    assert not work.exists()


def test_bad_pages_schema_rejected_before_workdir(spark, fixture_dir, tmp_path):
    """A corpus without `html` fails at the pages read, not inside the
    extract UDF, and leaves no workdir behind."""
    bad = str(tmp_path / "no_html")
    spark.read.parquet(f"{fixture_dir}/pages.parquet").drop("html").write.parquet(bad)
    work = tmp_path / "never_created"
    with pytest.raises(ValueError, match=r"missing columns: \['html'\]"):
        run_pipeline(spark, bad, str(work))
    assert not work.exists()


def test_metrics_total_rows_match_committed_tables(spark, checkpointed):
    workdir, _ = checkpointed
    cat = Catalog(spark, workdir)
    metrics = cat.metrics()
    assert set(metrics) == set(_markers(workdir)) == CUT_STAGES
    for name, m in metrics.items():
        assert m["table"] == name
        assert m["total_rows"] == cat.read(name).count(), name
