"""Round-6 optimization equivalences: the hashed-key verification join
and the narrowed token-index form derivation must be row-identical to
the shapes they replaced."""

from pyspark.sql import functions as F

from wikdict_gen_spark.operators import corpus, dedup


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        rows.append((2 * i, f"{base} variant {i} with unique tail {i * 7}"))
        # near-dup twin of the even doc (one token changed)
        rows.append((2 * i + 1, f"{base} variant {i} with unique tail {i * 7} x"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestHashedVerificationJoin:
    def test_clean_corpus_equals_string_keyed_path(self, spark):
        """clean_corpus now joins the Jaccard verification on
        xxhash64(shingle); on a planted near-dup corpus the surviving
        set must equal the exact string-keyed derivation."""
        docs = _docs(spark)
        out = sorted(
            r["doc_id"]
            for r in corpus.clean_corpus(
                docs, quality_min=0.0, jaccard_threshold=0.5,
                num_hashes=4, bands=2, k=3, compact=False,
            ).collect()
        )
        # independent string-keyed replica of the same chain
        canon = dedup.exact_dedup_rows(docs)
        sh = dedup.shingles(canon, k=3)
        sig = dedup.minhash_signatures(sh, num_hashes=4, compact=False)
        pairs = dedup.lsh_candidate_pairs(sig, num_hashes=4, bands=2)
        ver = dedup.ngram_jaccard(None, pairs, shingles_df=sh).where(
            F.col("jaccard") >= 0.5
        )
        drops = {r["id_b"] for r in ver.select("id_b").distinct().collect()}
        expect = sorted(
            r["doc_id"] for r in canon.select("doc_id").collect()
            if r["doc_id"] not in drops
        )
        assert out == expect
        # the planted twins actually collide: some doc was dropped
        assert len(out) < 60


class TestNarrowFormDistinct:
    def test_int_distinct_equals_string_distinct(self, spark):
        li = spark.range(500).selectExpr(
            "id % 40 AS l_partkey", "id % 130 AS l_orderkey"
        )
        li.createOrReplaceTempView("lineitem")
        old = spark.sql(
            "SELECT DISTINCT 'L' || l_partkey AS lexentry, "
            "'form' || (l_orderkey % 50) AS other_written FROM lineitem"
        )
        new = (
            li.select(
                F.col("l_partkey").alias("__pk"),
                (F.col("l_orderkey") % 50).alias("__fk"),
            )
            .distinct()
            .select(
                F.concat(F.lit("L"), F.col("__pk")).alias("lexentry"),
                F.concat(F.lit("form"), F.col("__fk")).alias("other_written"),
            )
        )
        assert sorted(map(tuple, old.collect())) == sorted(
            map(tuple, new.collect())
        )
