"""Web-corpus cleaning: cross-document boilerplate-line removal and PII
scrubbing — the two standard "clean the crawl" passes that run before any
dedup/quality stage in a pre-training pipeline (C4's line-level filters,
CCNet's per-shard line dedup).

Scale shape (the part that matters at 100 TB):

* `frequent_lines` aggregates to (line_hash, doc_count) — a partial
  (map-side combined) count whose OUTPUT is tiny after the frequency
  filter: boilerplate is by definition the heavy tail (nav bars, cookie
  banners, copyright footers shared by thousands of pages), so the
  surviving table is "one row per distinct boilerplate line", orders of
  magnitude smaller than the corpus.  `strip_boilerplate_lines` therefore
  broadcast-anti-joins the exploded lines against it: the only full-corpus
  shuffle in the whole pass is the groupBy(doc) reassembly, and even that
  keys on doc_id — the corpus's natural (skew-free, near-unique) key.
* Line identity is md5 of the trimmed line, so the frequency shuffle moves
  32-byte hashes, never the line text (a nav bar is kilobytes; its hash is
  not).  The md5 shape is also what keeps the operator under the DuckDB
  oracle.
* `pii_scrub` is pure JVM column arithmetic (regexp_replace / regexp_count)
  fused into the scan — zero shuffle, zero Python.

The regexes are written in the RE2-compatible subset (no backreferences,
no lookaround) so Spark (Java regex) and DuckDB (RE2) agree byte-for-byte
— that compatibility is load-bearing for the oracle rows, not a style
choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark.operators.partitioning import checkpoint

# RE2-safe patterns shared by the Spark plan and the DuckDB oracle.
PII_PATTERNS = {
    # local@domain.tld — the pragmatic crawl-scrubbing shape, not RFC 5322
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted quad; \b keeps version strings like 1.2.3.4.5 from half-matching
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # international-ish phone: +CC then 7..14 digits with optional separators
    "phone": r"\+\d{1,3}[ -]?\(?\d{1,4}\)?([ -]?\d{2,4}){2,4}",
}
PII_TOKEN = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}
# scrub order: email before ipv4/phone, so a dotted quad inside an email's
# domain is counted once as email, never double-redacted
PII_KINDS = ("email", "ipv4", "phone")


def split_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, line): trimmed non-empty lines with their original
    position — posexplode keeps the order key so reassembly is exact."""
    return (
        docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "raw"),
        )
        .select(F.col("doc_id"), "pos", F.trim(F.col("raw")).alias("line"))
        .where(F.col("line") != "")
    )


def frequent_lines(docs: DataFrame, min_docs: int = 4) -> DataFrame:
    """(line_hash, n_docs) for every line appearing in >= `min_docs`
    DISTINCT documents — the boilerplate inventory.

    count(DISTINCT doc) is the right statistic (a line repeated inside one
    page is repetition, not boilerplate) and Spark executes it as the
    standard two-phase expand/partial-agg, so no single reducer sees a
    hot line's full row set.
    """
    lines = split_lines(docs)
    return (
        lines.select(F.md5(F.col("line")).alias("line_hash"), F.col("doc_id"))
        .groupBy("line_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 4,
    boilerplate: DataFrame | None = None,
) -> DataFrame:
    """Remove every line that `frequent_lines` classifies as boilerplate
    and reassemble each document's remaining lines in original order.

    Returns (id, text, n_lines_kept, n_lines_removed); a document whose
    every line is boilerplate survives with text='' (dropping it is the
    quality gate's decision, not this operator's).  Pass `boilerplate`
    to reuse an inventory computed once for a whole corpus (the
    incremental/multi-shard path) — with a supplied inventory the whole
    operator is a single corpus pass.

    Plan shape: the exploded line table is derived ONCE and, when the
    inventory must be computed here, checkpointed: both the inventory
    aggregation and the strip consume it, and an unmaterialized shared
    subtree would re-run the explode per consumer.  The strip itself is a broadcast
    LEFT join (boilerplate flag) folded into ONE groupBy(doc) that
    filters inside the aggregation — kept text, kept count and removed
    count come out of the same shuffle, so no second per-doc pass and no
    join of two aggregates.  The final right join against the id-only
    projection restores zero-line documents; it reads one pruned column.
    """
    lines = split_lines(docs).withColumn("line_hash", F.md5(F.col("line")))
    if boilerplate is None:
        lines = checkpoint(lines)
        boilerplate = lines.groupBy("line_hash").agg(
            F.countDistinct("doc_id").alias("n_docs")
        ).where(F.col("n_docs") >= F.lit(int(min_docs)))
    # the inventory is the heavy-hitter set: small by construction -> broadcast
    flagged = lines.join(
        F.broadcast(
            boilerplate.select("line_hash", F.lit(True).alias("is_boiler"))
        ),
        "line_hash",
        "left",
    )
    keep = F.col("is_boiler").isNull()
    reassembled = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line", keep.alias("k")))
                    ),
                    lambda s: s["k"],
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.sum(keep.cast("long")).alias("n_lines_kept"),
        F.sum((~keep).cast("long")).alias("n_lines_removed"),
    )
    return (
        docs.select("doc_id")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_removed", F.lit(0)).alias("n_lines_removed"),
        )
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Replace PII spans with typed tokens and count what was redacted.

    Adds `text_scrubbed` plus one `n_<kind>` column per PII_KINDS entry,
    scrubbed in that order.
    Pure regexp_replace/regexp_count column arithmetic — fuses into the
    scan, no shuffle, no Python.
    """
    out = docs
    scrubbed = F.col("text")
    for kind in PII_KINDS:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(scrubbed, F.lit(pat)).cast("bigint")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, PII_TOKEN[kind])
    return out.withColumn("text_scrubbed", scrubbed)


# Query-param names dropped by canonicalize_urls: click/campaign trackers
# that change per referral without changing the resource.  Checked by NAME
# (the part before '='): utm_* as a prefix class, the rest exact.
TRACKING_PARAM_PREFIX = "utm_"
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "mc_eid", "ref")


def canonicalize_urls(pages: DataFrame) -> DataFrame:
    """URL canonicalization — the normalization pass that makes crawl-level
    URL dedup work: the same resource arrives as
    `HTTPS://WWW.Site.COM:443/a/?utm_source=x#top` and
    `https://www.site.com/a`, and byte-equality on raw URLs misses it.

    Rules (each one a plain string-algebra rewrite, all JVM built-ins,
    zero shuffle — the whole pass fuses into the scan):
      * strip the fragment (`#...` — client-side only, never sent);
      * lowercase scheme and host (case-insensitive per RFC 3986) — path
        case is preserved (significant on most servers);
      * drop default ports (:80 for http, :443 for https);
      * drop tracking query params (utm_*, gclid, fbclid, msclkid,
        mc_eid, ref) keeping the remaining params in their original
        order; an emptied query drops its '?';
      * strip trailing slashes from a non-root path; an empty path
        becomes '/'.

    Rows whose value does not parse as scheme://... pass through
    trimmed-but-otherwise-untouched (crawls carry garbage; dropping it is
    a filter's decision, not a normalizer's).  Adds `canonical_url` and
    `host`.
    """
    u = F.regexp_replace(F.trim(F.col("url")), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    npath = F.regexp_replace(path, r"/+$", "")
    npath = F.when(npath == "", F.lit("/")).otherwise(npath)
    query = F.when(
        rest.contains("?"), F.regexp_extract(rest, r"\?(.*)$", 1)
    ).otherwise(F.lit(""))

    def _keep(p):
        name = F.regexp_extract(p, r"^([^=]*)", 1)
        return ~(
            name.startswith(TRACKING_PARAM_PREFIX)
            | name.isin(*TRACKING_PARAMS)
            | (p == "")
        )

    kept = F.array_join(F.filter(F.split(query, "&"), _keep), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        npath,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    return pages.withColumn(
        "canonical_url", F.when(scheme == "", F.trim(F.col("url"))).otherwise(canon)
    ).withColumn("host", host)


def host_stats(pages: DataFrame) -> DataFrame:
    """Per-host crawl rollup over CANONICAL urls: page count, distinct
    resources, and the URL-level duplicate rate (the mass a url-dedup
    pass removes — tracking-param churn and fragment noise, which is why
    this counts canonical rather than raw urls).

    One combiner-friendly shuffle keyed on host; the countDistinct
    expansion carries (host, canonical_url) so a giant host is still
    spread across its distinct urls until the final per-host merge, where
    AQE's skew handling applies.  dup_rate is exact bigint/bigint.
    """
    c = canonicalize_urls(pages)
    n = F.count(F.lit(1))
    return (
        c.groupBy("host")
        .agg(
            n.alias("n_pages"),
            F.countDistinct("canonical_url").alias("n_urls"),
            (
                (n - F.countDistinct("canonical_url")).cast("double")
                / n.cast("double")
            ).alias("dup_rate"),
        )
    )
