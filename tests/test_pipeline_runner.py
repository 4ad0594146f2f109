"""Stage-table runner (wikdict_gen_spark/pipeline.py): fused and
checkpointed modes agreeing on the connected-components stages, a CC
failure raising from run_pipeline itself, stop_after and pages-schema
validation, and the per-table `_metrics` the checkpointed mode records."""

import pytest

from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize
from wikdict_gen_spark.pipeline import STAGES, run_pipeline


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
    """alias_edges, canonical and kg_nodes are the same rows when fused
    mode builds them lazily, without a commit between them."""
    _, ckpt = checkpointed
    work = tmp_path_factory.mktemp("runner_fused")
    fused = run_pipeline(spark, f"{fixture_dir}/pages.parquet", str(work), fused=True)
    for name in ["alias_edges", "canonical", "kg_nodes"]:
        assert _same_rows(fused[name], ckpt[name]), name
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
    assert set(metrics) == {name for name, _, _ in STAGES}
    for name, m in metrics.items():
        assert m["table"] == name
        assert m["total_rows"] == cat.read(name).count(), name
