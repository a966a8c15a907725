"""Deterministic mergeable sketches as DataFrames: Count-Min and Bloom.

The engine already exposes Spark's native approximate aggregates
(``approx_count_distinct`` / HLL sketch merge — registry entry
``agg_approx_sketches``); those sketch bytes are engine-internal and
not oracle-comparable. This module builds the two classic mergeable
summaries *as plain integer relations*, so they are (a) bit-identical
on any engine — the DuckDB oracle replays the full construction — and
(b) mergeable by the engine's own aggregates (counts add; bitmaps OR),
which is the property that matters at 100 TB: per-partition partial
sketches collapse map-side and the shuffle carries only the bounded
sketch key space, never the corpus.

- Count-Min (Cormode & Muthukrishnan '05): d hash rows x w buckets of
  token counts. Build = one groupBy over (row, bucket) — at most d*w
  output rows regardless of corpus size. Point estimate = min over
  rows of the bucket count; always an overestimate, error <= 2N/w with
  probability 1-(1/2)^d.
- Bloom (Bloom '70): m bits as m/32 32-bit words packed in BIGINTs
  (32-bit chunks sidestep engine differences in signed 64-bit shift
  overflow), k md5-derived bit positions per element, built by a
  ``bit_or`` groupBy — order-independent, hence deterministic under
  any partitioning. The membership probe is a join against the tiny
  (source, word) relation — exactly the broadcast-able structure a
  100 TB anti-join prune would ship to every executor.

Reference parity: the reference has no sketch surface (its dedup is an
exact DynamoDB conditional write, TripStartProcessor.py:61-66); these
are part of the training-data extension surface the brief asks for.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.text import fingerprint, tokens

CMS_DEPTH = 4
CMS_WIDTH = 512

BLOOM_BITS = 4096  # m — demo/default for the *bounded-key* entries
BLOOM_K = 3


def bloom_size(expected_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing (Bloom '70 / Broder-Mitzenmacher survey):
    bits ``m = -n ln p / (ln 2)^2`` (~9.6 bits/key at p=1%), hashes
    ``k = (m/n) ln 2``. Returns (bits, k) with bits rounded up to a
    multiple of 32 (the packed-word width) and floored at 256.

    This is what a filter guarding an unbounded corpus must use — the
    fixed ``BLOOM_BITS`` default saturates after a few thousand keys,
    at which point every probe reads bloom-positive and the filter
    routes nothing (the scan bound silently evaporates). Size from the
    key cardinality you expect the corpus to REACH, not today's count:
    bits are cheap (the (word, bits32) relation stores only touched
    words, so an oversized sparse filter costs ~nothing at small n).
    """
    if expected_keys <= 0:
        raise ValueError("expected_keys must be positive")
    if not 0.0 < fp_rate < 1.0:
        raise ValueError("fp_rate must be in (0, 1)")
    m = math.ceil(-expected_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m = max(256, ((m + 31) // 32) * 32)
    k = max(1, round(m / expected_keys * math.log(2)))
    return m, k


def _hash48(c: Column, salt: str) -> Column:
    """48-bit integer hash: first 12 hex chars of md5(salt || value),
    parsed base 16 — the same engine-portable primitive the MinHash
    family uses (operators/neardup.py)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c)), 1, 12), 16, 10
    ).cast("long")


def cms_build(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-Min sketch of the corpus token stream as a
    (row, bucket, cnt) relation. One explode + one bounded-key groupBy;
    partial aggregation collapses per-partition counts before the
    shuffle, so the wire carries <= depth*width rows per partition."""
    toks = docs.select(F.explode(tokens(text_col)).alias("tok"))
    rows = toks.select(
        "tok",
        F.explode(
            F.array(*[F.lit(j) for j in range(depth)])
        ).alias("row"),
    )
    return (
        rows.withColumn("bucket", cms_bucket(F.col("tok"), F.col("row"), width))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_bucket(tok: Column, row: Column | int, width: int = CMS_WIDTH) -> Column:
    r = F.lit(row) if isinstance(row, int) else row
    return _hash48(
        F.concat(r.cast("string"), F.lit("|"), tok), "cms-"
    ) % F.lit(width)


def cms_estimate_topk(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """True count vs CMS estimate for the top-k tokens (ties broken by
    token asc — deterministic). The probe side is tiny (k*depth rows)
    and joins the <=d*w-row sketch: at scale both sides broadcast."""
    sketch = cms_build(docs, text_col, depth, width)
    true_counts = (
        docs.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
        .limit(k)
    )
    probes = true_counts.select(
        "tok",
        "true_cnt",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row"),
    ).withColumn("bucket", cms_bucket(F.col("tok"), F.col("row"), width))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .withColumn("overcount", F.col("cms_est") - F.col("true_cnt"))
    )


def bloom_bit(c: Column, j: int, bits: int = BLOOM_BITS) -> Column:
    """Bit index of hash function j for element c."""
    return _hash48(c, f"bloom-{j}-") % F.lit(bits)


def bloom_build(
    df: DataFrame,
    group_col: str,
    elem: Column,
    k: int = BLOOM_K,
    bits: int = BLOOM_BITS,
) -> DataFrame:
    """Per-group Bloom filter as a (group, word, bits32) relation:
    word = bit_idx div 32, bits32 = OR of (1 << (bit_idx mod 32)).
    bit_or is order- and duplicate-insensitive, so the build is
    deterministic under any partitioning and filters from disjoint
    corpus shards union by the same groupBy."""
    hashed = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.array(*[bloom_bit(elem, j, bits) for j in range(k)])
        ).alias("bit_idx"),
    )
    return (
        hashed.withColumn("word", (F.col("bit_idx") / 32).cast("int"))
        .withColumn(
            "mask", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit_idx % 32 AS INT))")
        )
        .groupBy("grp", "word")
        .agg(F.bit_or("mask").alias("bits32"))
    )


def bloom_membership_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    k: int = BLOOM_K,
    bits: int = BLOOM_BITS,
) -> DataFrame:
    """Probe every document's content fingerprint against every OTHER
    source's Bloom filter and score the filter against exact truth:
    (probe_source, filter_source, n_probes, n_claimed, n_true,
    n_false_positive). A Bloom filter never misses a true member, so
    n_claimed >= n_true and the delta is the measured FP count — the
    number a 100 TB pre-join prune would pay in wasted lookups."""
    fps = docs.select(
        F.col(id_col).alias("d"),
        F.col(group_col).alias("probe_source"),
        fingerprint(text_col).alias("fp"),
    )
    bloom = bloom_build(
        docs.select(group_col, fingerprint(text_col).alias("fp")),
        group_col,
        F.col("fp"),
        k,
        bits,
    )
    # probe rows: one per (fp, filter group, hash j)
    groups = bloom.select(F.col("grp").alias("filter_source")).distinct()
    probe = (
        fps.crossJoin(F.broadcast(groups))
        .filter(F.col("probe_source") != F.col("filter_source"))
        .select(
            "d",
            "probe_source",
            "filter_source",
            "fp",
            F.explode(
                F.array(*[bloom_bit(F.col("fp"), j, bits) for j in range(k)])
            ).alias("bit_idx"),
        )
        .withColumn("word", (F.col("bit_idx") / 32).cast("int"))
        .withColumn(
            "mask",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit_idx % 32 AS INT))"),
        )
    )
    hit = (
        probe.join(
            F.broadcast(bloom),
            (probe["filter_source"] == bloom["grp"])
            & (probe["word"] == bloom["word"]),
            "left",
        )
        .withColumn(
            "bit_set",
            F.when(
                F.col("bits32").isNotNull()
                & (F.col("bits32").bitwiseAND(F.col("mask")) != 0),
                1,
            ).otherwise(0),
        )
        .groupBy("d", "probe_source", "filter_source", "fp")
        .agg((F.sum("bit_set") == F.lit(k)).alias("claimed"))
    )
    # exact truth: does this fp exist in the filter source?
    truth = (
        docs.select(
            F.col(group_col).alias("filter_source"),
            fingerprint(text_col).alias("fp"),
        )
        .distinct()
        .withColumn("truly_present", F.lit(True))
    )
    return (
        hit.join(F.broadcast(truth), ["filter_source", "fp"], "left")
        .na.fill({"truly_present": False})
        .groupBy("probe_source", "filter_source")
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(F.col("claimed").cast("long")).alias("n_claimed"),
            F.sum(F.col("truly_present").cast("long")).alias("n_true"),
            F.sum(
                (F.col("claimed") & ~F.col("truly_present")).cast("long")
            ).alias("n_false_positive"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog registers as a relation (Flajolet et al. '07): register
# value = MAX over elements of rho (leading-zero rank of the hash
# suffix) — MAX is associative/commutative/idempotent, so the build is
# one groupBy and sketches merge by the same MAX. The harmonic sum
# Z = sum(2^-M_j) is EXACT in doubles here (every term is a dyadic
# rational within 53 bits of the total's exponent range), so even the
# floating-point estimate is order-independent and oracle-portable.
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al., table for m = 64)


def hll_registers(
    df: DataFrame,
    group_col: str,
    elem: Column,
    p: int = HLL_P,
) -> DataFrame:
    """Per-group HLL registers: (grp, bucket, max_rho). bucket = top p
    bits of the 48-bit hash; rho = 1 + count of leading zeros in the
    remaining bits (capped at suffix_bits + 1 when the suffix is 0)."""
    suffix_bits = 48 - p
    h = _hash48(elem, "hll-")
    bucket = F.shiftright(h, suffix_bits)
    suffix = h.bitwiseAND(F.lit((1 << suffix_bits) - 1))
    # rho = suffix_bits - floor(log2(suffix)) for suffix > 0: the
    # number of leading zeros + 1. floor(log2) via BIGINT bit length
    # would need a loop; instead use the numeric identity with
    # floor(ln(x)/ln(2))? ln is bit-stable but the RATIO at exact
    # powers of two risks an off-by-one on either engine. Use a
    # portable arithmetic form instead: the largest k such that
    # suffix < 2^(suffix_bits - k) == rho > k; computed as a sum of
    # boolean comparisons — exact integer arithmetic on both engines.
    rho = (
        F.lit(1)
        + sum(
            (suffix < F.lit(1 << (suffix_bits - k))).cast("int")
            for k in range(1, suffix_bits + 1)
        )
    ).cast("int")
    return (
        df.select(F.col(group_col).alias("grp"), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_distinct_estimates(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    p: int = HLL_P,
) -> DataFrame:
    """Per-group distinct-token estimate vs exact truth:
    (grp, n_zero_registers, z, est_raw, est, exact_distinct). The
    small-range correction (linear counting, est <= 2.5m with empty
    registers) matches the published algorithm; `est` carries it,
    `est_raw` is the uncorrected harmonic estimate."""
    m = 1 << p
    toks = docs.select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok")
    )
    regs = hll_registers(toks, "g", F.col("tok"), p)
    # empty buckets contribute 2^0 = 1 to Z and count as zero registers
    per = regs.groupBy("grp").agg(
        F.count("*").alias("n_filled"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z_filled"),
    )
    z = F.col("z_filled") + (F.lit(m) - F.col("n_filled")).cast("double")
    v = (F.lit(m) - F.col("n_filled")).cast("long")
    est_raw = F.lit(HLL_ALPHA * m * m) / z
    # linear counting m*ln(m/V): JVM Math.log and DuckDB ln disagree
    # in the last ULP for some arguments (observed at V=40), but V has
    # only m possible values — so the m*ln(m/V) table is computed ONCE
    # in Python and embedded as identical literals on both engines
    ln_table = F.array(
        *[F.lit(m * math.log(m / vv)) for vv in range(1, m + 1)]
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (v > 0),
        F.element_at(ln_table, v.cast("int")),
    ).otherwise(est_raw)
    exact = toks.groupBy(F.col("g").alias("grp")).agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    return (
        per.join(exact, "grp")
        .select(
            "grp",
            v.alias("n_zero_registers"),
            z.alias("z"),
            est_raw.alias("est_raw"),
            est.alias("est"),
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# KMV (k minimum values, Bar-Yossef et al. '02): keep the k smallest
# element hashes per group — merge = k smallest of the union (min-
# based, order/duplicate-insensitive). Jaccard between two groups is
# estimated on the combined sketch; everything is integer hashes and
# one final division.
# ---------------------------------------------------------------------------

KMV_K = 64


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    elem: Column,
    k: int = KMV_K,
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 48-bit element
    hashes as (grp, h, r) rows, r = 1..k by ascending hash. Build =
    distinct + one per-group top-k (partitioned window over the
    already-deduplicated hash stream)."""
    from pyspark.sql import Window as W

    hashed = df.select(
        F.col(group_col).alias("grp"), _hash48(elem, "kmv-").alias("h")
    ).distinct()
    w = W.partitionBy("grp").orderBy("h")
    return (
        hashed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("grp", "h", "r")
    )


def kmv_jaccard_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = KMV_K,
) -> DataFrame:
    """Pairwise source similarity from KMV sketches vs exact truth:
    (g1, g2, kmv_jaccard, exact_jaccard). The estimator: merge the two
    sketches, keep the k smallest of the union, and count how many of
    those appear in both — |common among k-min of union| / k estimates
    Jaccard (Bar-Yossef et al.). Sketches are k rows per group: the
    pairwise comparison touches k*|groups|^2 rows, never the corpus."""
    from pyspark.sql import Window as W

    sk = kmv_sketch(
        docs.select(group_col, F.explode(tokens(text_col)).alias("tok")),
        group_col,
        F.col("tok"),
        k,
    ).select("grp", "h")
    a = sk.select(F.col("grp").alias("g1"), "h")
    b = sk.select(F.col("grp").alias("g2"), "h")
    # for every (g1, g2) pair, the union of their sketch hashes with
    # per-side membership flags
    pairs = (
        a.select("g1").distinct()
        .join(b.select("g2").distinct())
        .filter(F.col("g1") < F.col("g2"))
    )
    u = (
        pairs.join(a, "g1")
        .select("g1", "g2", "h", F.lit(1).alias("in1"), F.lit(0).alias("in2"))
        .unionByName(
            pairs.join(b, "g2").select(
                "g1", "g2", "h", F.lit(0).alias("in1"), F.lit(1).alias("in2")
            )
        )
        .groupBy("g1", "g2", "h")
        .agg(F.max("in1").alias("in1"), F.max("in2").alias("in2"))
    )
    w = W.partitionBy("g1", "g2").orderBy("h")
    kmin = u.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    est = kmin.groupBy("g1", "g2").agg(
        (
            F.sum((F.col("in1") * F.col("in2")).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("kmv_jaccard")
    )
    # exact truth over distinct token sets
    dtok = docs.select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tok")
    ).distinct()
    ga = dtok.select(F.col("g").alias("g1"), "tok")
    gb = dtok.select(F.col("g").alias("g2"), "tok")
    inter = (
        ga.join(gb, "tok")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count("*").alias("n_inter"))
    )
    # disjoint pairs must still report jaccard 0.0 — left-join from
    # the full pair grid, else the similarity MATRIX silently loses
    # rows and 'no overlap' is indistinguishable from 'not evaluated'
    inter = pairs.join(inter, ["g1", "g2"], "left").withColumn(
        "n_inter", F.coalesce(F.col("n_inter"), F.lit(0).cast("long"))
    )
    sizes = dtok.groupBy("g").agg(F.count("*").alias("n"))
    exact = (
        inter.join(sizes.withColumnRenamed("g", "g1").withColumnRenamed("n", "n1"), "g1")
        .join(sizes.withColumnRenamed("g", "g2").withColumnRenamed("n", "n2"), "g2")
        .select(
            "g1",
            "g2",
            (
                F.col("n_inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double")
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["g1", "g2"]).select(
        "g1", "g2", "kmv_jaccard", "exact_jaccard"
    )


def cms_frequent_terms(
    docs: DataFrame,
    min_count: int,
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """EXACT frequent-term mining with a CMS prefilter — the sketch
    version of candidates-then-verify: CMS estimates are one-sided
    (est >= true), so ``est >= min_count`` admits every truly-frequent
    token plus a few collision false positives, and the exact recount
    runs only on that candidate set. Output (tok, cnt) is exactly the
    naive ``HAVING count >= min_count`` result — the oracle states the
    naive definition and the hash compare proves it.

    Honesty note on shape: candidate ENUMERATION here walks
    ``toks.distinct()`` so the losslessness contract stays
    machine-checkable against the plain naive oracle — as written
    this does NOT beat the naive one-aggregate query (whose map-side
    partial agg already bounds the shuffle by per-partition distinct
    tokens); what it verifies is the sketch's one-sided-error
    semantics end to end. In deployment the candidate stream is
    bounded by construction instead: queries probing the sketch
    online, a content-addressed doc sample's vocabulary (P(miss) <=
    (1-r)^min_count), or pigeonhole local heavy hitters (count >=
    min_count/P in some partition) — each slots into the same
    probe -> est filter -> exact recount pipeline unchanged."""
    toks = docs.select(F.explode(tokens(text_col)).alias("tok"))
    sketch = cms_build(docs, text_col, depth, width)
    probes = (
        toks.distinct()
        .select(
            "tok",
            F.explode(
                F.array(*[F.lit(j) for j in range(depth)])
            ).alias("row"),
        )
        .withColumn("bucket", cms_bucket(F.col("tok"), F.col("row"), width))
    )
    cand = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
        .filter(F.col("est") >= min_count)
        .select("tok")
    )
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
