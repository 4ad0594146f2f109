"""Deduplication operators for large-scale training-data pipelines.

All hashing is md5-based (hex strings) so results are engine-portable:
on 32-char fixed-width hex, lexicographic MIN equals numeric MIN, which
lets the DuckDB oracle reproduce every operator bit-for-bit.  At cluster
scale each operator is shuffle-minimal: one groupBy on the dedup key
(exact), or shingle-explode -> per-band bucket join (MinHash LSH) with
the band signature as the shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wikdict_gen_spark.operators.partitioning import checkpoint, widen_if_narrow


def _norm_text(col):
    """Normalization shared by all dedup ops: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized text hash; keeps the minimum id per group.

    One shuffle on the 128-bit content hash; output adds n_dups.
    """
    h = F.md5(_norm_text(F.col("text"))).alias("content_hash")
    return (
        docs.select(F.col("doc_id"), h)
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup_rows(docs: DataFrame) -> DataFrame:
    """Exact dedup keeping the canonical full ROW per content group.

    Same rule as exact_dedup (minimum id per normalized-content group) but
    the other output shape: exact_dedup returns the group summary (hash,
    min id, n_dups); this returns the surviving input rows themselves with
    `content_hash` attached, for compositions that keep processing the
    canonical documents (clean_corpus carries quality + text forward).
    One shuffle on the 128-bit hash (window min) — no join back to the
    input, so the corpus is scanned once.
    """
    h = docs.withColumn("content_hash", F.md5(_norm_text(F.col("text"))))
    w = Window.partitionBy("content_hash")
    return (
        h.withColumn("__min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__min_id"))
        .drop("__min_id")
    )


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Word k-gram shingles per document (distinct), via JVM-side array ops.

    The tokenize + k-gram + distinct chain is the heaviest narrow compute
    in the dedup family and fuses onto the input's scan, so an
    under-parallel layout (one-row-group parquet) would run it on one
    task: widen first (no-op on any normally-laid-out input).
    """
    docs = widen_if_narrow(docs)
    toks = F.split(_norm_text(F.col("text")), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures_inline(docs: DataFrame, k: int = 3,
                              num_hashes: int = 16,
                              compact: bool = True) -> DataFrame:
    """MinHash signatures computed ROW-LOCALLY — zero shuffles.

    A document's signature is min over ITS OWN shingle set per seed:
    nothing crosses rows, so the explode + distinct + groupBy-min of the
    shingle-table path (shingles -> minhash_signatures, two shuffles)
    is pure overhead when the caller does not also need the exploded
    table.  Here the whole derivation — tokenize, k-gram, dedup, hash,
    min — is array HOFs in a single scan->project plan (0 Exchange
    nodes, measured); the only shuffle in an LSH flow built on this is
    the bucket join itself.  At sf0.1 wall time equals the table path
    (both are md5-bound); the win is the two shuffles of the full
    shingle set that never happen — at cluster scale that is the
    dominant cost of the signature stage.  Output and semantics are
    identical to minhash_signatures (q_minhash_inline pins equality
    under the same oracle SQL); keep the table path when the shingle
    table is shared with Jaccard verification (clean_corpus
    materializes it once for both consumers).
    """
    toks = F.split(_norm_text(F.col("text")), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )
    # project the gram array FIRST: the per-seed min columns below each
    # reference it, and expression trees are not CSE'd across columns —
    # inlining `grams` directly re-ran tokenize+k-gram+distinct once per
    # seed (measured 3.5x slower; CollapseProject declines to merge the
    # two Projects because __grams has multiple non-cheap references)
    gcol = docs.select(F.col("doc_id"), grams.alias("__grams"))

    # NB: build per-seed lambdas via a factory — `lambda s, i=i: ...`
    # has two parameters, which pyspark's HOF introspection treats as an
    # (element, index) lambda and binds the index Column over the seed
    def _seed_hash(i):
        if compact:
            return lambda s: F.xxhash64(F.lit(f"seed{i}:"), s)
        return lambda s: F.md5(F.concat(F.lit(f"seed{i}:"), s))

    mins = [
        F.array_min(F.transform(F.col("__grams"), _seed_hash(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return gcol.select(F.col("doc_id"), F.array(*mins).alias("minhash"))


def minhash_signatures(sh: DataFrame, num_hashes: int = 16,
                       compact: bool = True) -> DataFrame:
    """MinHash signature per doc: for seed i, min over hash(i || shingle).

    compact=True (default): xxhash64 longs — 8 bytes per hash instead of
    a 32-char string, ~4x lighter on the shuffle wire; the production
    shape at cluster scale.
    compact=False: md5 hex strings — engine-portable (hex-string min ==
    numeric min), the oracle-comparison shape (q_minhash_signature pins
    it explicitly).  Same algorithm, same downstream banding contract.
    Output: (doc_id, minhash array of length num_hashes).  Signatures
    are not comparable across the two shapes.
    """
    if compact:
        hashed = sh.select(
            F.col("doc_id"),
            *[
                F.xxhash64(F.lit(f"seed{i}:"), F.col("shingle")).alias(f"h{i}")
                for i in range(num_hashes)
            ],
        )
    else:
        hashed = sh.select(
            F.col("doc_id"),
            *[
                F.md5(F.concat(F.lit(f"seed{i}:"), F.col("shingle"))).alias(f"h{i}")
                for i in range(num_hashes)
            ],
        )
    return hashed.groupBy("doc_id").agg(
        F.array(*[F.min(f"h{i}") for i in range(num_hashes)]).alias("minhash")
    )


def lsh_candidate_pairs(signatures: DataFrame, num_hashes: int = 16, bands: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Band the signatures and bucket-join: docs sharing any band signature
    become a candidate pair (id_a < id_b, distinct).

    The shuffle key is (band_idx, band_signature) — hot buckets
    (boilerplate text) are the skew point, and they are an OUTPUT
    explosion: an n-doc bucket emits n^2/2 pairs from an input partition
    of only n rows, so AQE's skew-join split (which inspects input
    bytes) never fires on it and one join task quietly produces the
    cross product.  `max_bucket_size` is the scale guard: buckets above
    it are clique-collapsed — every member pairs with the bucket's
    minimum id only (n-1 pairs instead of n^2/2).  For near-dup REMOVAL
    under the greedy smaller-id-wins rule this is lossless within the
    bucket (members verify against the canonical min directly); what it
    gives up is the non-canonical member-member pair list, which only
    full clustering needs.  Measured at 600k docs with a planted 50k-doc
    boilerplate bucket: 1.25e9 raw pairs -> 1e5, and the resulting
    hub-key skew in the verification join IS input-sized, so AQE splits
    it (CORPUS_SCALE.json / PLANS.md).
    """
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                # cast covers both signature shapes: md5 hex
                                # strings and compact xxhash64 longs
                                F.transform(
                                    F.slice(
                                        F.col("minhash"), b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                                "|",
                            )
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    if max_bucket_size is not None:
        # one window pass on the same (band, sig) shuffle key computes the
        # bucket stats; small buckets keep the exact all-pairs join, big
        # ones collapse to (bucket_min, member) with no join at all
        w = Window.partitionBy("band", "sig")
        stats = banded.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn(
            "__mn", F.min("doc_id").over(w)
        )
        big = (
            stats.where(
                (F.col("__n") > max_bucket_size) & (F.col("doc_id") != F.col("__mn"))
            )
            .select(F.col("__mn").alias("id_a"), F.col("doc_id").alias("id_b"))
        )
        banded = stats.where(F.col("__n") <= max_bucket_size).select(
            "doc_id", "band", "sig"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    if max_bucket_size is not None:
        pairs = pairs.unionByName(big)
    return pairs.distinct()


def ngram_jaccard(docs: DataFrame | None, pairs: DataFrame, k: int = 3,
                  shingles_df: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification step).

    Exactly one of `docs` / `shingles_df` must be given.  Pass
    `shingles_df` (with docs=None) when the caller already derived the
    shingle table — e.g. for MinHash signatures upstream — so one
    tokenize+explode plan feeds both stages; `k` is then ignored (it
    describes a derivation that does not run here).  Passing
    both is an error: a shingle table derived from a different document
    set or k would silently produce wrong Jaccard values.
    """
    if (docs is None) == (shingles_df is None):
        raise ValueError(
            "ngram_jaccard: pass exactly one of docs or shingles_df "
            "(a shingles_df from a different doc set / k than docs would "
            "yield wrong Jaccard values without any error)"
        )
    sh = shingles(docs, k=k) if shingles_df is None else shingles_df
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def _verified_pairs(docs: DataFrame, jaccard_threshold: float, num_hashes: int,
                    bands: int, k: int, compact: bool) -> DataFrame:
    """(id_a < id_b) near-dup pairs: LSH candidates whose shingle-set
    Jaccard verifies at >= `jaccard_threshold`.

    One shingle derivation, checkpointed, feeds the signatures AND both
    sides of the Jaccard verification (within a single lazy plan the
    consumers would each re-execute it).  The verification join moves the
    candidate docs' shingle sets, so the join key is hashed to 8-byte
    longs: the exchange carries keys, not gram text.  Jaccard here only
    feeds the threshold gate, and a cross-doc xxhash64 collision between
    DIFFERENT grams of a candidate pair (~|pairs| * |grams|^2 / 2^64 ~
    1e-10 at sandbox scale) is the only way a value could move; verified
    equal row-for-row against the string-keyed path on every testdata SF.
    Buckets are not capped (see lsh_candidate_pairs' `max_bucket_size`).
    """
    sh = checkpoint(shingles(docs, k=k))
    sig = minhash_signatures(sh, num_hashes=num_hashes, compact=compact)
    pairs = lsh_candidate_pairs(sig, num_hashes=num_hashes, bands=bands)
    sh_keyed = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    return ngram_jaccard(None, pairs, shingles_df=sh_keyed).where(
        F.col("jaccard") >= F.lit(float(jaccard_threshold))
    )


def near_dup_clusters(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 4,
    bands: int = 2,
    k: int = 3,
    compact: bool = True,
) -> DataFrame:
    """Transitive near-dup clusters: (doc_id, cluster_id = component-min id).

    The greedy drop rule (clean_corpus) removes any doc verified against
    a smaller id; clustering is its transitive closure — docs A-B and
    B-C verified makes {A,B,C} ONE cluster even if A-C never collided —
    which is what canonical-selection, dedup accounting and
    contamination analysis actually need.  Pipeline: the verified pairs
    of _verified_pairs -> alternating-star connected components
    (canonicalize.connected_components, the S7 primitive) -> left join
    back so singleton docs map to themselves.
    """
    from wikdict_gen_spark.operators import canonicalize as CC

    verified = _verified_pairs(docs, jaccard_threshold, num_hashes, bands, k, compact)
    edges = verified.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    mapping = CC.connected_components(edges).withColumnRenamed("node", "doc_id")
    return (
        docs.select("doc_id")
        .join(mapping, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("canonical"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    n_planes: int = 8,
    n_bands: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= threshold).

    method="lsh" (default, the scale path): candidates must agree on ALL
    `n_planes` random-hyperplane signs of ANY of `n_bands` independent
    signatures (similarity.rp_signature; band b uses planes
    b*n_planes .. (b+1)*n_planes-1) — the all-pairs product collapses to
    per-(band, signature) bucket joins, the same shuffle shape as MinHash
    banding, and a pair's capture probability is OR-amplified across
    bands: 1-(1-p^r)^b for per-plane agreement p, r=n_planes, b=n_bands.
    n_bands=1 is the single-AND-band round-3 behavior; raise it to buy
    recall at the advertised 0.9-cosine regime without cutting planes
    (which would trade precision instead).  Recall per (n_planes,
    n_bands) was measured in NEARDUP_RECALL.json (a round-6 record);
    every emitted pair is cosine-VERIFIED, so banding only affects
    recall, never precision.

    method="exact": the full O(n^2) self-join — the verification/oracle
    path and the correct choice for small relations (e.g. per-partition
    refinement); do not run it on a 10^9-row table.
    """
    from wikdict_gen_spark.operators import similarity as S

    e = embeddings.select(F.col("vec_id"), F.col("embedding"))
    if method == "lsh":
        if dim is None:
            raise ValueError("dim is required for method='lsh'")
        band_sigs = []
        for b in range(n_bands):
            planes = [
                S._hyperplane(b * n_planes + p, dim) for p in range(n_planes)
            ]
            band_sigs.append(
                F.struct(
                    F.lit(b).alias("band"),
                    S.rp_signature(F.col("embedding"), planes).alias("sig"),
                )
            )
        e = e.withColumn("__bs", F.explode(F.array(*band_sigs)))
        join_keys = [F.col("a.__bs") == F.col("b.__bs")]
    elif method == "exact":
        join_keys = []
    else:
        raise ValueError(f"unknown method {method!r}")
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    for k in join_keys:
        cond = cond & k
    pairs = a.join(b, cond)
    cos = S.cosine_expr(
        F.col("a.embedding").cast("array<double>"),
        F.col("b.embedding").cast("array<double>"),
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= float(threshold))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per bit, sign of the sum of token-hash bits.

    Uses md5-derived bits (portable).  bits kept small (16) so the oracle
    can mirror it with per-bit SQL aggregation.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(F.split(_norm_text(F.col("text")), " ")).alias("tok")
    )
    h = toks.withColumn("hh", F.md5(F.col("tok")))
    # bit i of the token hash = parity of hex nibble i (LSB)
    bit_cols = [
        (
            F.when(
                F.conv(F.substring(F.col("hh"), i + 1, 1), 16, 10).cast("int") % 2 == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = h.select(F.col("doc_id"), *bit_cols).groupBy("doc_id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(bits)]
    )
    sig = sums.select(
        F.col("doc_id"),
        F.concat(
            *[F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(bits)]
        ).alias("simhash"),
    )
    return sig


def incremental_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame | None,
) -> DataFrame:
    """Dedup an arriving batch against an already-committed corpus: the
    shape every resumable ingest pipeline runs (and the reason
    exact_dedup's hash table is worth persisting between snapshots).

    `seen_hashes` is the committed corpus's (content_hash) table — pass
    None for the bootstrap batch.  Returns the batch's surviving rows
    (canonical-min within the batch, then anti-joined against the seen
    set) with `content_hash` attached, ready to both commit AND append to
    the seen table — so the next increment needs no recompute over
    history.

    Scale shape: within-batch dedup is one window-min shuffle on the
    hash, sized by the BATCH (small), not the corpus; the history check
    is a single hash-key anti-join against the seen table — 16 bytes per
    historical doc, the minimum possible state, and the join keys on an
    md5 hash so it is uniform by construction (no skew, no salting
    needed).
    """
    batch = exact_dedup_rows(new_docs)
    if seen_hashes is None:
        return batch
    return batch.join(
        seen_hashes.select("content_hash").distinct(), "content_hash", "left_anti"
    )


def _rolling_gram_hashes(k: int):
    """Array of md5 hashes of the k-token rolling spans of normalized text.

    Guards the short-doc case explicitly: sequence(1, 0) is DESCENDING
    [1, 0] in Spark, not empty, and would feed slice() a 0 start —
    documents shorter than k tokens yield an empty array instead.
    """
    toks = F.split(_norm_text(F.col("text")), " ")
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicated_span_stats(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication signal: per document, how many of its
    k-token spans also occur in >= `min_docs` OTHER-or-same documents —
    the corpus-level "duplicated substring" statistic exact-substring
    dedup pipelines gate on (memorization risk scales with verbatim span
    reuse, not whole-document identity, which is why this exists beside
    MinHash: a page can be 30% template and 70% fresh and no document-
    level signature flags it).

    Returns (id, n_spans, n_dup_spans, dup_span_frac); documents shorter
    than k tokens report 0 spans / 0.0 frac.

    Scale shape (same discipline as webclean.strip_boilerplate_lines):
    the rolling-gram table is derived in ONE pass and checkpointed,
    because both the frequency aggregation and the per-doc rollup
    consume it; the shuffle moves 32-byte gram hashes, never span
    text; the frequent-gram inventory is the heavy tail (template
    sentences shared by thousands of pages), so it broadcasts, and the
    per-doc rollup keys on the skew-free doc id.  dup_span_frac is a
    single exact bigint/bigint double division, so the row sits under
    the hash oracle with no rounding.
    """
    spans = checkpoint(docs.select(
        F.col("doc_id"), F.explode(_rolling_gram_hashes(k)).alias("gh")
    ))
    freq = (
        spans.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )
    flagged = spans.join(
        F.broadcast(freq.select("gh", F.lit(True).alias("is_dup"))), "gh", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("is_dup").isNotNull().cast("long")).alias("n_dup_spans"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_dup_spans").cast("double") / F.col("n_spans")
            )
            .alias("dup_span_frac"),
        )
    )


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 6,
    min_hits: int = 1,
    broadcast_inventory: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    k-token spans appear verbatim in ANY benchmark example — the
    test-set-overlap gate every serious training-data pipeline runs
    before a corpus ships (a train doc that quotes an eval question
    inflates the eval; the standard remedy is the 13-gram-overlap filter
    of GPT-3 appendix C / PaLM, expressed here at configurable k).

    Returns (id, n_spans, n_contam_spans, contam_frac, is_contaminated)
    for every row of `docs`; `is_contaminated` is an int flag
    (n_contam_spans >= min_hits), and documents shorter than k tokens
    report 0 spans / 0.0 frac / not contaminated.

    Scale shape: the benchmark side is the small one by construction
    (eval suites are thousands of items against 10^12 training docs), so
    its DISTINCT gram inventory — 32-byte hashes, deduped — broadcasts
    and the corpus is touched in exactly ONE pass with no shuffle of
    document text at all; the only shuffle is the per-doc count rollup
    on the skew-free doc id.  Set broadcast_inventory=False for a
    pathologically large benchmark and the same plan degrades gracefully
    to a hash join on the gram hash.  contam_frac is one exact
    bigint/bigint double division, so the row sits under the hash oracle
    with no rounding.
    """
    inventory = (
        benchmark.select(
            F.explode(_rolling_gram_hashes(k)).alias("gh")
        )
        .distinct()
        .withColumn("is_hit", F.lit(True))
    )
    if broadcast_inventory:
        inventory = F.broadcast(inventory)
    spans = docs.select(
        F.col("doc_id"), F.explode(_rolling_gram_hashes(k)).alias("gh")
    )
    per_doc = (
        spans.join(inventory, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("is_hit").isNotNull().cast("long")).alias("n_contam_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_contam_spans", F.lit(0)).alias("n_contam_spans"),
            F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("n_contam_spans").cast("double") / F.col("n_spans"))
            .alias("contam_frac"),
            (F.coalesce("n_contam_spans", F.lit(0)) >= F.lit(int(min_hits)))
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring REMOVAL — the destructive twin of
    `duplicated_span_stats`: delete every token covered by a k-token span
    that recurs in >= `min_docs` documents, and reassemble the remaining
    tokens.  This is span-granular boilerplate excision (the Lee-et-al.
    substring-dedup idea applied as a cleaning pass): the template
    sentence is cut out of EVERY document carrying it — no canonical
    occurrence survives, because a span frequent enough to trip the gate
    is by definition boilerplate, not content.  Operates on the
    normalized token stream (lowercase, collapsed whitespace) that all
    dedup ops share, so `text_clean` is normalized text.

    Returns (id, n_tokens, n_removed, text_clean); documents shorter
    than k tokens pass through untouched.

    Scale shape: BOTH shared trunks are checkpointed —
    the tokenized base (consumed by the gram derivation AND the final
    rebuild join, so the corpus parquet is scanned ONCE, not once per
    consumer) and the positional-gram table (consumed by the frequency
    agg AND the removal join, so the md5 gram hashing runs once).  The
    frequency shuffle moves 32-byte hashes; the frequent-gram inventory
    broadcasts; and the removal-index explode multiplies only the
    DUPLICATED spans by k — never the corpus — so a clean corpus pays
    one scan and a near-empty join.  Token excision is an array HOF on
    the doc's own row, no token-level shuffle ever exists.
    """
    toks_expr = F.split(_norm_text(F.col("text")), " ")
    base = checkpoint(docs.select(F.col("doc_id"), toks_expr.alias("__toks")))
    spans = checkpoint(base.select(
        F.col("doc_id"),
        F.posexplode(
            F.when(
                F.size("__toks") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - k + 1),
                    lambda i: F.md5(
                        F.array_join(F.slice("__toks", i, k), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "gh"),
    ))
    freq = (
        spans.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
        .select("gh")
    )
    # dup span at 0-based pos0 covers 1-based token indices
    # [pos0+1, pos0+k]; explode multiplies dup spans only, then dedup
    removed = (
        spans.join(F.broadcast(freq), "gh")
        .select(
            F.col("doc_id"),
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + k)
            ).alias("ridx"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("ridx").alias("__removed"))
    )
    joined = base.join(removed, "doc_id", "left").withColumn(
        "__removed", F.coalesce("__removed", F.array().cast("array<int>"))
    )
    # complement-then-project, NOT a per-token array_contains filter:
    # array_except is hash-based O(n + m) and keeps array1's (ascending)
    # order, where the contains filter is O(n * m) — measured 12.5x
    # slower on a fully-boilerplate document (the exact doc this operator
    # targets)
    kept_idx = F.array_except(
        F.sequence(F.lit(1), F.size("__toks")), "__removed"
    )
    kept = F.transform(kept_idx, lambda i: F.element_at("__toks", i))
    return joined.select(
        F.col("doc_id"),
        F.size("__toks").alias("n_tokens"),
        F.size("__removed").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def cdc_chunks(
    docs: DataFrame,
    avg_chunk_tokens: int = 16,
    window: int = 4,
) -> DataFrame:
    """Content-defined chunking: split each document into variable-length
    chunks whose boundaries depend only on LOCAL content — the rsync/LBFS
    trick at token granularity.  A boundary falls after token i when the
    hash of the `window`-token context ending at i lands in the bottom
    1/avg_chunk_tokens of the hash space, so expected chunk length is
    avg_chunk_tokens and, crucially, an insertion near the start of a
    document perturbs only the chunk containing it: every later boundary
    re-synchronizes, so downstream CHUNK-HASH dedup still matches the
    unchanged remainder (fixed-size blocks lose alignment forever —
    that asymmetry is the whole point of CDC).

    Returns (id, chunk_idx, chunk_hash, n_tokens) — one row per chunk,
    chunk_hash = md5 of the chunk's normalized token text.  Pair with a
    groupBy(chunk_hash) to find sub-document duplication at storage
    granularity.

    Scale shape: boundary detection, chunk slicing and hashing are all
    array HOFs on the document's own row — the ONLY shuffle in a CDC
    dedup flow is the downstream chunk-hash aggregation, and what
    shuffles is 32-byte hashes + counts, never chunk text.
    """
    from .sampling import rate_to_threshold

    if avg_chunk_tokens < 2:
        raise ValueError("avg_chunk_tokens must be >= 2")
    thresh = rate_to_threshold(1.0 / avg_chunk_tokens)
    toks = F.split(_norm_text(F.col("text")), " ")
    n = F.size(toks)

    def gate(i):
        # hash of the `window`-token context ending at i (clamped at the
        # doc start), salted so the gate is independent of chunk hashes
        start = F.greatest(i - F.lit(window - 1), F.lit(1))
        ctx = F.slice(toks, start, i - start + 1)
        return F.substring(
            F.md5(F.concat(F.lit("cdc:"), F.array_join(ctx, " "))), 1, 16
        ) < F.lit(thresh)

    inner_ends = F.when(
        n >= 2, F.filter(F.sequence(F.lit(1), n - 1), gate)
    ).otherwise(F.array().cast("array<int>"))
    ends = F.concat(inner_ends, F.array(n))
    starts = F.concat(
        F.array(F.lit(1)), F.transform(inner_ends, lambda e: e + 1)
    )
    chunks = F.zip_with(
        starts, ends, lambda s, e: F.array_join(F.slice(toks, s, e - s + 1), " ")
    )
    out = docs.select(
        F.col("doc_id"),
        F.posexplode(F.when(n >= 1, chunks).otherwise(
            F.array().cast("array<string>")
        )).alias("chunk_idx", "__chunk"),
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.md5("__chunk").alias("chunk_hash"),
        F.size(F.split("__chunk", " ")).alias("n_tokens"),
    )


def chunk_dup_stats(
    docs: DataFrame,
    avg_chunk_tokens: int = 16,
    window: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """CDC-granular duplication: per document, how many of its
    content-defined chunks also occur (by hash) in >= `min_docs`
    documents — the storage-dedup view of corpus redundancy.  Because
    CDC boundaries re-synchronize, this catches shared runs even when
    they sit at different offsets in different documents, at a fraction
    of the cost of the rolling-gram statistic: one chunk per ~16 tokens
    instead of one gram per token.

    Returns (id, n_chunks, n_dup_chunks, dup_chunk_frac).  One shuffle
    of 32-byte chunk hashes for the frequency count, broadcast frequent
    inventory, doc-keyed rollup — the duplicated_span_stats shape on a
    16x smaller table.
    """
    # shared-trunk discipline: both the frequency agg and the rollup
    # consume the chunk table — materialize it once
    chunks = checkpoint(cdc_chunks(docs, avg_chunk_tokens, window))
    freq = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
        .select("chunk_hash", F.lit(True).alias("is_dup"))
    )
    per_doc = (
        chunks.join(F.broadcast(freq), "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_dup").isNotNull().cast("long")).alias("n_dup_chunks"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        (F.col("n_dup_chunks").cast("double") / F.col("n_chunks")).alias(
            "dup_chunk_frac"
        ),
    )
