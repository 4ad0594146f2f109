"""Deterministic corpus sampling: hash-gate stratified sampling for
building training mixtures (per-language / per-domain rates).

Why a hash gate and not `df.sample`: a training-data pipeline needs the
sample to be (a) reproducible across runs, clusters, and partition
layouts, (b) stable under corpus growth (a document's keep/drop never
flips when other rows arrive), and (c) auditable by an external engine.
`rand()`-based sampling is none of those.  Keeping a row iff
md5(salt:key) < threshold is all three: md5 is uniform over hex strings,
so a threshold at fraction p of the 32-hex keyspace keeps p of rows in
expectation, deterministically per key.

Scale shape: the gate is a pure column predicate — it fuses into the
scan, costs zero shuffle, and Catalyst pushes the stratum-rate lookup
(a small literal CASE/map) into the same projection.  Nothing about the
operator changes between 500 rows and 10^12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FULL = 16  # md5 hex chars used for the gate (64 bits: collision-free rates)


def rate_to_threshold(rate: float) -> str:
    """Hex threshold t such that P[md5_prefix < t] == rate (to 64-bit
    resolution), comparable LEXICOGRAPHICALLY against the fixed-width
    16-hex prefix (hex digits are ASCII-ordered, so equal-width hex
    compares as magnitude).  rate=1.0 needs a value above the whole
    keyspace: a 17-char '1000…' would sort BELOW 'a…' as a string, so it
    returns 'g' — one char past 'f', above every 16-hex prefix."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sampling rate must be in [0,1], got {rate}")
    scaled = int(rate * (1 << (4 * _FULL)))
    if scaled >= 1 << (4 * _FULL):
        return "g"
    return format(scaled, f"0{_FULL}x")


def hash_sample(docs: DataFrame, rate: float) -> DataFrame:
    """Uniform deterministic sample: keep iff the salted md5 prefix falls
    below the rate threshold; the same rate always draws the same rows."""
    gate = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        1, _FULL,
    )
    return docs.where(gate < F.lit(rate_to_threshold(rate)))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mixture builder.

    `rates` maps stratum value -> keep fraction (e.g. {"en": 0.1,
    "de": 1.0}); strata not listed keep `default_rate` (0.0 = drop, the
    safe default for an explicit mixture spec).  The per-row threshold is
    a literal CASE over the rates dict, so the whole operator is one
    pushed-down predicate; rows never shuffle and the mixture is exactly
    reproducible from (rates, salt).
    """
    thresh = F.lit(rate_to_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(stratum_col) == F.lit(stratum),
            F.lit(rate_to_threshold(rate)),
        ).otherwise(thresh)
    gate = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
        1, _FULL,
    )
    return docs.where(gate < thresh)


def temperature_rates(
    counts: dict[str, int], temperature: float, target_total: int
) -> dict[str, float]:
    """Per-stratum keep rates for temperature-balanced mixture sampling.

    The multilingual-corpus balancing rule: target share of stratum s is
    q_s = n_s^(1/T) / sum_t n_t^(1/T).  T=1 keeps natural proportions;
    T->inf approaches uniform shares; T<1 sharpens toward the head.  The
    keep rate materializing a ~target_total-row corpus with those shares
    is r_s = min(1, target_total * q_s / n_s).

    Driver-side by design: `counts` is one number per stratum (languages,
    domains — config-scale, not data-scale).  Pair with
    `stratified_sample` for the deterministic hash-gate execution."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if any(n < 0 for n in counts.values()):
        raise ValueError("stratum counts must be >= 0")
    alpha = 1.0 / temperature
    if alpha.is_integer():
        # exact-integer path (T = 1/k): one correctly-rounded division of
        # exact integers — engine-portable (an external SQL engine casting
        # the same integers to double and dividing gets the identical
        # float while the operands stay below 2^53), which is what lets
        # the q_temperature_sample oracle reproduce the gate bit-for-bit
        ai = int(alpha)
        powed_i = {s: n ** ai for s, n in counts.items() if n > 0}
        z_i = sum(powed_i.values())
        if z_i == 0:
            return {s: 0.0 for s in counts}
        # the engine-portability claim above holds only while every
        # operand of the exact division is itself exactly representable
        # as a double; past 2^53 an engine that casts each operand to
        # double before dividing (the oracle does) can drift 1 ulp and
        # silently flip borderline gate rows — fail loudly instead
        for s in powed_i:
            if target_total * powed_i[s] > 2**53 or z_i * counts[s] > 2**53:
                raise ValueError(
                    "temperature_rates: exact-integer operands exceed 2^53 "
                    f"(stratum {s!r}, counts up to {max(counts.values())}); "
                    "the bit-for-bit cross-engine parity of the integral-"
                    "alpha path no longer holds at this corpus size — "
                    "pin explicit rates via stratified_sample instead"
                )
        return {
            s: (min(1.0, (target_total * powed_i[s]) / (z_i * counts[s]))
                if s in powed_i else 0.0)
            for s in counts
        }
    powed = {s: float(n) ** alpha for s, n in counts.items() if n > 0}
    z = sum(powed.values())
    if z == 0:
        return {s: 0.0 for s in counts}
    return {
        s: (min(1.0, target_total * (powed[s] / z) / counts[s])
            if s in powed else 0.0)
        for s in counts
    }


def temperature_sample(
    docs: DataFrame,
    temperature: float,
    target_total: int,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-balanced mixture sampling in one pass + one gate.

    Counts each stratum (a combiner-friendly aggregate whose OUTPUT is
    one row per stratum — the only collect is config-sized), converts to
    `temperature_rates`, and applies the deterministic hash gate.  The
    gate itself is still a pure pushed-down predicate; determinism holds
    for a FIXED corpus (rates derive from the observed counts — under
    corpus growth, re-derive rates or pin them explicitly via
    `stratified_sample` to keep per-row stability)."""
    counts = {
        r[stratum_col]: r["n"]
        for r in docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = temperature_rates(counts, temperature, target_total)
    return stratified_sample(
        docs, rates, stratum_col=stratum_col, key_col=key_col,
        default_rate=0.0,
    )
