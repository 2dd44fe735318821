"""Distributed cardinality sketch: a deterministic HyperLogLog.

Pipeline breadth (SURVEY §2.5 analytics the reference lacks): Spark's
own ``approx_count_distinct`` is HLL++ with engine-private hashing —
useful, but unverifiable against an independent engine and not
bit-stable across versions. This HLL is built from portable primitives
(md5, string ops, integer max/sum) so the ENTIRE sketch — registers,
scaled register sum, final estimate — is bit-identical on any engine,
any partitioning, any cluster size, and therefore exactly
oracle-checkable in DuckDB. Same trick as the portable-integer LSH/IVF
paths (operators/knn.py).

Construction (m = 256 buckets):
- ``h = md5(value)``; bucket = first 2 hex chars (8 bits); the next
  13 hex chars are a 52-bit value ``w``.
- ``rho = leading-zero bits of w + 1`` computed WITHOUT floating logs:
  4·(leading '0' hex chars) + a 16-case CASE on the first non-zero
  char (+1); all-zero ⇒ 53.
- register ``M_j = max(rho)`` per bucket — groupBy-max: partial
  aggregation (map-side combine) makes this one tiny shuffle at any
  scale, the whole point of sketches.
- register sum kept EXACT: ``S = Σ_j 2^(53 − M_j)`` as BIGINT
  (≤ 256·2^53 < 2^63), counting absent buckets at M=0. The classic
  ``Σ 2^(−M_j)`` is an order-dependent float sum; scaling by 2^53
  makes it an exact integer, so the only float op is the final
  division.
- ``E = alpha_256 · m² · 2^53 / S`` with
  ``alpha_256 = 0.7213/(1 + 1.079/256)`` — one double expression over
  exact integers, written with identical parenthesization in the
  DuckDB oracle. No small-range (linear counting) branch: it needs
  ln(), whose libm rounding differs across engines; callers sketching
  < 3m distinct values should use exact counting anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M = 256
# identical text in both engines; every literal CAST to DOUBLE because
# both Spark and DuckDB otherwise parse bare decimal literals as DECIMAL
# and would do decimal (not IEEE) arithmetic
ALPHA_M2_SCALE = (
    "CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / "
    "CAST(256 AS DOUBLE)) * CAST(65536 AS DOUBLE) * "
    "CAST(9007199254740992 AS DOUBLE)"
)


def hll_registers(df: DataFrame, col: str, keys: list[str] | None = None) -> DataFrame:
    """Max-ρ HLL registers of ``df[col]``, one group per ``keys`` tuple:
    ``*keys, bucket, m_j``. This is the mergeable sketch state — max-merge
    of two groups' registers equals the registers of their value union,
    which is what lets HyperBall propagate O(m) registers instead of
    reach sets (operators/hyperball.py) and lets any engine reproduce
    the state from the raw values."""
    keys = list(keys or [])
    h = df.select(*keys, F.md5(F.col(col).cast("string")).alias("h"))
    parts = h.select(
        *keys,
        F.conv(F.substring("h", 1, 2), 16, 10).cast("long").alias("bucket"),
        F.substring("h", 3, 13).alias("w"),
    )
    z = F.length(F.regexp_extract("w", "^(0*)", 1))
    d = F.substring(F.col("w"), 1, 13).substr(z + 1, F.lit(1))
    lz = (
        F.when(d.isin(*"89abcdef"), 0)
        .when(d.isin("4", "5", "6", "7"), 1)
        .when(d.isin("2", "3"), 2)
        .otherwise(3)
    )
    rho = parts.select(
        *keys,
        "bucket",
        F.when(F.col("w") == "0" * 13, 53)
        .otherwise(4 * z + lz + 1)
        .alias("rho"),
    )
    return rho.groupBy(*keys, "bucket").agg(F.max("rho").alias("m_j"))


def hll_estimate(regs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """``*keys, s_scaled, estimate`` from a register table (absent
    buckets counted at M=0; exact-integer register sum, one final double
    division — see module doc)."""
    keys = list(keys or [])
    s = regs.groupBy(*keys).agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m_j)"))
            + (F.lit(_M) - F.count("*")) * F.lit(1 << 53)
        )
        .cast("long")
        .alias("s_scaled")
    )
    return s.select(
        *keys, "s_scaled", (F.expr(ALPHA_M2_SCALE) / F.col("s_scaled")).alias("estimate")
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    width: int = 512,
    depth: int = 3,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch build: ``(d, bucket, n)`` — depth×width counters
    from one pass over the occurrence table (one row per occurrence of
    ``col``). Row d's bucket for item x is
    ``md5('<salt>:<d>:' || x) mod width`` — portable, deterministic,
    bit-identical on any engine/partitioning (same rationale as the
    portable HLL above). Build shape: explode each occurrence into
    ``depth`` rows, then ONE partial-agg shuffle on (d, bucket) — the
    sketch (depth·width counters) is broadcast-sized regardless of
    corpus size, which is the whole point: heavy-hitter queries at
    100 TB touch the fixed-size sketch, never the corpus."""
    d = F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("d")
    rows = df.select(F.col(col).alias("x"), d)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col("d"), F.col("x"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return rows.select("d", bucket.alias("bucket")).groupBy("d", "bucket").agg(
        F.count("*").alias("n")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    width: int = 512,
    depth: int = 3,
    salt: str = "cms",
) -> DataFrame:
    """Point estimates from a count-min sketch: ``(<col>, est_n)`` with
    ``est_n = min_d sketch[d][bucket_d(key)]`` — always ≥ the true
    count (collisions only ever ADD). ``keys`` is the (small) set of
    candidates to score; the join touches depth rows per key against
    the broadcast-sized sketch."""
    d = F.explode(F.expr(f"sequence(0, {depth - 1})")).alias("d")
    kb = keys.select(F.col(col).alias("x"), d)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col("d"), F.col("x"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    probes = kb.select("x", F.col("d").alias("d"), bucket.alias("bucket"))
    return (
        probes.join(sketch, ["d", "bucket"])
        .groupBy("x")
        .agg(F.min("n").alias("est_n"))
        .select(F.col("x").alias(col), "est_n")
    )


def _bloom_probes(
    df: DataFrame, col: str, m_bits: int, k_hashes: int, salt: str
) -> DataFrame:
    """Shared bit-position expansion: ``x, bit`` — k rows per input.
    ONE definition on purpose: build and probe must hash identically or
    members would stop matching their own filter (a silent false
    negative, the one thing a Bloom filter must never produce)."""
    j = F.explode(F.expr(f"sequence(0, {k_hashes - 1})")).alias("j")
    rows = df.select(F.col(col).alias("x"), j)
    bit = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col("j"), F.col("x"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % m_bits
    )
    return rows.select("x", bit.alias("bit"))


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 65536, k_hashes: int = 4, salt: str = "bloom"
) -> DataFrame:
    """Bloom filter build: the distinct set-bit positions (one column
    ``bit``) for the membership set — rows ≤ m_bits, so the built
    filter is broadcast-sized no matter how many members went in (the
    crawl-frontier \"have we fetched this url\" shape: the fetched set
    is petabytes, the filter is kilobytes). Bit j for member x is
    ``md5('<salt>:<j>:' || x) mod m_bits`` — portable and
    deterministic, so even false positives are reproducible
    cross-engine."""
    rows = _bloom_probes(df, col, m_bits, k_hashes, salt)
    return rows.select("bit").distinct()


def bloom_maybe_contains(
    bits: DataFrame,
    candidates: DataFrame,
    col: str,
    m_bits: int = 65536,
    k_hashes: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """Membership probe: ``(<col>, maybe_member)`` — true iff ALL
    ``k_hashes`` bit positions are set (no false negatives; false
    positives bounded by the m/n ratio and identical cross-engine).
    The probe explodes k rows per candidate and semi-counts hits
    against the (broadcastable) bit table."""
    probes = _bloom_probes(candidates, col, m_bits, k_hashes, salt)
    hits = probes.join(bits, "bit", "left_semi").groupBy("x").agg(
        F.count("*").alias("h")
    )
    return (
        candidates.select(F.col(col).alias("x"))
        .distinct()
        .join(hits, "x", "left")
        .select(
            F.col("x").alias(col),
            (F.coalesce("h", F.lit(0)) == k_hashes).alias("maybe_member"),
        )
    )
