"""Regime rules: every plan choice made from an input's size or id range.

A regime is a physical-plan choice — broadcast vs shuffle, packed vs
pair keys, int32 vs int64 payloads — that depends on how big the input
is or how wide its ids are. The rules and their thresholds live here
and nowhere else; operators ask this module and branch on the answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

# The broadcast ceiling pair. An input broadcasts while its estimated
# size is at most BROADCAST_BYTE_LIMIT, or else while it has at most
# BROADCAST_ROW_LIMIT rows: 32M packed edges ≈ 512 MB serialized — the
# practical single-executor broadcast ceiling.
BROADCAST_BYTE_LIMIT = 512 * 1024 * 1024
BROADCAST_ROW_LIMIT = 32_000_000

# Ids below this fit a signed 32-bit int, and a (src << 32) | dst key
# over them stays a non-negative int64.
_ID_LIMIT = 1 << 31

# For FILE-SCAN relations Catalyst's sizeInBytes is the COMPRESSED
# on-disk footprint, 3-10x under the deserialized/broadcast size for
# parquet — the one direction in which "Catalyst only overestimates"
# fails (r4 advisor). Estimates over a file-scan leaf are inflated by
# this factor; InMemoryRelation / LocalRelation / Range leaves report
# accurate in-memory sizes and pass through unadjusted.
_FILE_SCAN_DESER_FACTOR = 4
# Optimized-plan leaf class names that denote file/table scans (parquet
# reads = LogicalRelation; V2 sources / Hive names included defensively).
_SCAN_LEAF_PREFIXES = ("LogicalRelation", "DataSourceV2", "HiveTableRelation")


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate — a JVM call, no job.
    None when stats are unavailable (then callers fall back to count()).
    File-scan-backed plans are inflated by ``_FILE_SCAN_DESER_FACTOR``
    (compressed-footprint stats, see above)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        # Catalyst's "unknown" sentinel is Long.MaxValue-ish
        if not (0 <= size < (1 << 62)):
            return None
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            name = leaves.apply(i).getClass().getSimpleName()
            if name.startswith(_SCAN_LEAF_PREFIXES):
                return size * _FILE_SCAN_DESER_FACTOR
        return size
    except Exception:
        return None


def resolve_broadcast_state(flag: bool | str, proxy: DataFrame) -> bool:
    """Resolve a broadcast tri-state: ``True``/``False`` pass through
    (explicit override); ``"auto"`` broadcasts iff ``proxy`` fits the
    ceiling pair. Callers pass the EDGE table as the proxy for
    vertex-sized state (a sound upper bound: the state never exceeds
    one row per edge endpoint), so an oversized input degrades to the
    always-correct shuffle regime instead of failing at the broadcast.

    Probe order: Catalyst's optimized-plan size estimate first (a JVM
    stats call, no job) — trusted when it ALLOWS the broadcast, because
    without CBO table stats Catalyst only ever overestimates join
    lineage (measured 55 GB claimed for a 4 MB self-join projection,
    290 GB for the 115,729-row oriented copurchase table at sf0.01), so
    a small estimate is reliable. An unknown or over-ceiling estimate is
    settled by one ``count()`` against the row ceiling — a map-side
    partial agg over the proxy, noise next to either regime it guards.
    File-scan estimates carry ``_FILE_SCAN_DESER_FACTOR``, so
    near-ceiling scans settle by count, not estimate.

    The tri-state is VALIDATED: anything but True/False/"auto" raises —
    a typo like ``'Auto'`` or ``'none'`` must not silently pick a
    regime via string truthiness or a fall-through branch."""
    if flag not in (True, False, "auto"):
        raise ValueError(
            "broadcast regime flag must be True, False or 'auto', "
            f"got {flag!r}"
        )
    if flag != "auto":
        return bool(flag)
    if fits_broadcast_bytes(_estimated_bytes(proxy)):
        return True
    return proxy.count() <= BROADCAST_ROW_LIMIT


def fits_broadcast_bytes(n_bytes: int | None) -> bool:
    """True iff a relation of ``n_bytes`` — a plan estimate, or a
    measured row count times a per-row size — fits the byte ceiling.
    ``None`` (unknown) does not fit."""
    return n_bytes is not None and n_bytes <= BROADCAST_BYTE_LIMIT


def resolve_broadcast_adjacency(
    flag: bool | str, centered: DataFrame, max_center_degree: int | None
) -> bool:
    """Link prediction's kernel rule (``operators.metrics._pair_counts``):
    the broadcast-CSR kernel needs BOTH regime bounds — the hub cap
    (bound 2: per-task pair memory C(τ,2)·centers/task, a plan property)
    and a capped-center adjacency ``centered`` that fits the ceiling pair
    (bound 1: driver CSR + broadcast). ``"auto"`` checks both;
    ``True``/``False`` are overrides, except that ``True`` without a hub
    cap raises — uncapped hub graphs violate bound 2 by construction."""
    if flag == "auto":
        return max_center_degree is not None and resolve_broadcast_state(
            "auto", centered
        )
    # an explicit flag is validated and passed through, never probed
    if resolve_broadcast_state(flag, centered) and max_center_degree is None:
        raise ValueError(
            "broadcast_adjacency=True with max_center_degree=None is "
            "memory-unsafe: the kernel's per-task pair sort is bounded "
            "only by the hub cap (C(tau,2) per center). Set a cap, or "
            "use broadcast_adjacency=False/'auto' — the shuffle form "
            "handles uncapped hub graphs spill-managed."
        )
    return bool(flag)


def fits_31_bits(max_id: int | None) -> bool:
    """True iff every id is at most ``max_id`` < 2^31, so ids downcast
    to int32 and pack into one non-negative ``(src << 32) | dst`` int64.
    ``None`` (unknown range) takes the always-safe wide path. A dense
    dictionary numbered from 0 has ``max_id = n_vertices - 1``."""
    return max_id is not None and max_id < _ID_LIMIT


def in_31_bits(id_col: Column) -> Column:
    """Row-level form of ``fits_31_bits``: true iff the long ``id_col``
    lies in [0, 2^31). Lets a packed path check every id it packs
    without a separate pass to find the range."""
    return (id_col >= 0) & (id_col < _ID_LIMIT)
