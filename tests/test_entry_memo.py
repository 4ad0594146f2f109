"""Entry-module checkpoint memo: per-(app, sf_dir) reuse + eviction."""

import __spark_entry__ as entry


def test_memo_reuses_and_evicts(spark, tmp_path):
    entry.clear_memo()
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).toDF("x")

    df1 = entry._memo(spark, d1, "k", build)
    df1_again = entry._memo(spark, d1, "k", build)
    assert df1 is df1_again and len(calls) == 1  # memoized, one build

    # same sf_dir, second key: coexists (shared derived inputs)
    entry._memo(spark, d1, "k2", build)
    assert len(calls) == 2
    app = spark.sparkContext.applicationId
    assert {(m[1], m[2]) for m in entry._MEMO if m[0] == app} == {
        (d1, "k"), (d1, "k2")
    }

    # widened table reads share the memo under their file name
    spark.range(2).write.parquet(f"{d1}/t.parquet")
    t = entry._t(spark, d1, "t")
    assert entry._t(spark, d1, "t") is t
    assert (app, d1, "t.parquet") in entry._MEMO

    # a DIFFERENT sf_dir evicts every entry of the previous dataset,
    # table reads included
    entry._memo(spark, d2, "k", build)
    assert len(calls) == 3
    assert {(m[1], m[2]) for m in entry._MEMO if m[0] == app} == {(d2, "k")}

    entry.clear_memo()
    assert not entry._MEMO
