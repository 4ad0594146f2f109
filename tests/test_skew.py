"""Skew helpers must be row-for-row equivalent to the plain joins."""

import random

from pyspark.sql import functions as F

from wikdict_gen_spark.operators.skew import hot_keys, salted_join, skew_aware_join


def _facts(spark):
    # one hot key (k=0 appears 200x) + long tail
    rows = [(0, i) for i in range(200)] + [(i % 37 + 1, i) for i in range(300)]
    return spark.createDataFrame(rows, "k int, payload int")


def _dim(spark):
    return spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k int, val string")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_hot_keys(spark):
    hot = hot_keys(_facts(spark), ["k"], threshold=100).collect()
    assert [r["k"] for r in hot] == [0]


def test_skew_aware_join_equals_plain_left(spark):
    fact, dim = _facts(spark), _dim(spark)
    plain = fact.join(dim, ["k"], "left").select("k", "payload", "val")
    split = skew_aware_join(fact, dim, ["k"], how="left", threshold=100).select(
        "k", "payload", "val"
    )
    assert _sorted(plain) == _sorted(split)


def test_skew_aware_join_equals_plain_inner(spark):
    fact = _facts(spark).where(F.col("k") < 35)
    dim = _dim(spark).where(F.col("k") > 2)  # some fact keys unmatched
    plain = fact.join(dim, ["k"], "inner").select("k", "payload", "val")
    split = skew_aware_join(fact, dim, ["k"], how="inner", threshold=100).select(
        "k", "payload", "val"
    )
    assert _sorted(plain) == _sorted(split)


def test_salted_join_equals_plain(spark):
    fact, dim = _facts(spark), _dim(spark)
    plain = fact.join(dim, ["k"], "inner").select("k", "payload", "val")
    salted = salted_join(fact, dim, ["k"], how="inner", salt=4).select(
        "k", "payload", "val"
    )
    assert _sorted(plain) == _sorted(salted)


def test_connected_components_shapes(spark):
    from wikdict_gen_spark.operators.canonicalize import connected_components

    # chain a-b-c-d, star x<-{y,z}, isolated self-loop w-w edge dropped
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x"), ("z", "x"), ("w", "w")],
        "u string, v string",
    )
    got = {r["node"]: r["canonical"] for r in connected_components(edges).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "w": "w",
    }


def test_connected_components_random_graph(spark):
    """A seeded multigraph against a union-find with min-id roots: a path
    of 30 nodes in shuffled id order (depth 29), sparse random components,
    duplicate and reversed-duplicate edges, and self-loops (one isolated)."""
    from wikdict_gen_spark.operators.canonicalize import connected_components

    rng = random.Random(21)
    path = [f"p{i:02d}" for i in range(30)]
    rng.shuffle(path)
    edges = list(zip(path[1:], path))
    pool = [f"r{i:03d}" for i in range(150)]
    edges += [tuple(rng.sample(pool, 2)) for _ in range(200)]
    edges += rng.sample(edges, 30)
    edges += [(v, u) for u, v in rng.sample(edges, 30)]
    edges += [(n, n) for n in rng.sample(pool + path, 10)] + [("s0", "s0")]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in list(parent)}
    assert want["s0"] == "s0" and {want[n] for n in path} == {"p00"}

    df = spark.createDataFrame(edges, "u string, v string")
    got = {r["node"]: r["canonical"] for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_big_hub(spark):
    from wikdict_gen_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", "hub") for i in range(1, 60)]
        + [(f"n{i:03d}", f"n{i - 1:03d}") for i in range(60, 80)],
        "u string, v string",
    )
    got = {r["node"]: r["canonical"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"hub"}  # 'hub' < 'n001' lexically
    assert len(got) == 80
