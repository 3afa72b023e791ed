"""URL-seen dedup: partitioned filter prefilter + exact anti-join.

Semantics = the reference's ``INSERT ... ON CONFLICT DO NOTHING``
(commons/Entry.go:37): a candidate URL is dropped iff its canonical
hash is already in the seen set.  Exactness is mandatory (north_rule:
"identical URL-seen set"), so the filter is *only* a prefilter:

- candidates whose partition filter says "definitely new" skip the join
  entirely (the overwhelming majority in a growing crawl);
- the "maybe seen" remainder goes through an exact ``left_anti`` join.

At 10^10 seen URLs the anti-join's build side is the bottleneck; the
prefilter shrinks the probe set by orders of magnitude.  Filters are
partitioned by ``pmod(url_hash, n_parts)`` so each blob stays small and
both fold and probe are embarrassingly parallel (``applyInPandas`` per
partition, numpy kernels).  Blobs live on executors: never collected to
the driver, never broadcast.

This module holds the one filter path, written once for every filter
kind: the state schema, the incremental cogroup fold, the cogroup
probe, the seen-part pruning and the same-round-delta anti-join.  A
filter kind is a :class:`Codec` of five small table functions; the
Bloom codec lives here (``FILTER_STATE_SCHEMA``, ``update_seen_filters``,
``anti_join_seen_partitioned`` and ``anti_join_seen_with_delta`` are
bound to it), the cuckoo codec in ``dedup_cuckoo.py``.

Spark's own runtime Bloom pushdown
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) covers the
in-plan join case; this operator exists because the seen set is
*persistent cross-round state*, rebuilt incrementally, not a plan-local
subquery.  (``bloom_filter_agg``/``might_contain`` are not exposed as
public SQL functions in this Spark build — verified — hence the
pandas-UDF implementation.)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Incremental distributed filter state: one or more epoch-blobs per
# hash partition.  New keys fill the newest epoch while capacity lasts;
# overflow appends a fresh epoch sized 2× the leftover batch (geometric
# growth ⇒ O(log) epochs, bounded FPP per epoch, no rebuilds ever).
FILTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("filter", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
        T.StructField("capacity", T.LongType(), False),
        # the partition count the blob was built under: blobs persisted
        # under a different n_parts cover DIFFERENT key→partition
        # mappings, so probing them under the current config would
        # yield false "definitely new" (skipped exact join → double
        # fetch).  Both probe and update filter on it; nullable so
        # legacy state (no column) reads as NULL → treated as invalid.
        T.StructField("n_parts", T.IntegerType(), True),
    ]
)

_STATE_COLS = [f.name for f in FILTER_STATE_SCHEMA.fields]
_MIN_CAPACITY = 4096


class Codec(NamedTuple):
    """One filter kind: how a partition's epoch blob is built, read,
    written, filled and probed.  ``insert`` mutates the table in place
    and returns the mask of keys that did NOT fit (the fold opens a
    fresh epoch for them); ``lookup`` returns the "maybe seen" mask."""

    empty: Callable[[int], Any]
    load: Callable[[bytes], Any]
    dump: Callable[[Any], bytes]
    insert: Callable[[Any, np.ndarray], np.ndarray]
    lookup: Callable[[Any, np.ndarray], np.ndarray]


# ------------------------------------------------------------ Bloom codec
# A blob is a packbits bitset of 10 bits per key of epoch capacity,
# probed at five double-hash positions (~1% FPP at full capacity).
_K_HASHES = 5
_BITS_PER_KEY = 10


def _bit_positions(hashes: np.ndarray, m_bits: int) -> Iterator[np.ndarray]:
    """Double hashing: g_i(x) = h1 + i*h2 mod m (Kirsch-Mitzenmacher)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
    for i in range(_K_HASHES):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _bloom_insert(bits: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    for pos in _bit_positions(hashes, len(bits)):
        bits[pos] = 1
    return np.zeros(len(hashes), dtype=bool)  # a Bloom insert always fits


def _bloom_lookup(bits: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    maybe = np.ones(len(hashes), dtype=bool)
    for pos in _bit_positions(hashes, len(bits)):
        maybe &= bits[pos].astype(bool)
    return maybe


BLOOM = Codec(
    empty=lambda cap: np.zeros(8 * ((cap * _BITS_PER_KEY + 7) // 8), dtype=np.uint8),
    load=lambda blob: np.unpackbits(np.frombuffer(blob, dtype=np.uint8)),
    dump=lambda bits: np.packbits(bits).tobytes(),
    insert=_bloom_insert,
    lookup=_bloom_lookup,
)


# ------------------------------------------------------ shared filter path
def part_id_col(url_hash, n_parts: int):
    return F.pmod(F.col(url_hash) if isinstance(url_hash, str) else url_hash, F.lit(n_parts)).cast(
        "int"
    )


def cogroup_state(
    state: DataFrame,
    keys: DataFrame,
    n_parts: int,
    step: Callable[[int, list, np.ndarray], list],
) -> DataFrame:
    """cogroup(state, keys) by part_id → new FILTER_STATE_SCHEMA state.
    ``step(part, rows, hashes)`` gets the partition's epoch rows (oldest
    first, as dicts) and its sorted ``url_hash`` keys, and returns the
    partition's new rows.  Sorting makes the table bytes deterministic
    for a given key set (checkpoint-resume byte-stability)."""

    def apply(key, blobs: pd.DataFrame, ks: pd.DataFrame) -> pd.DataFrame:
        rows = blobs.sort_values("epoch").to_dict("records") if len(blobs) else []
        h = ks["url_hash"].to_numpy(dtype=np.int64) if len(ks) else np.array([], np.int64)
        return pd.DataFrame(step(int(key[0]), rows, np.sort(h)), columns=_STATE_COLS)

    keys_k = (
        keys.select("url_hash")
        .withColumn("part_id", part_id_col("url_hash", n_parts))
        .groupBy("part_id")
    )
    return state.groupBy("part_id").cogroup(keys_k).applyInPandas(
        apply, schema=FILTER_STATE_SCHEMA
    )


def fold_filter_state(
    codec: Codec,
    filters_prev: DataFrame,
    new_seen: DataFrame,
    n_parts: int = 64,
) -> DataFrame:
    """Fold this round's new keys into the filter state.

    ``filters_prev``: FILTER_STATE_SCHEMA rows (empty DataFrame on the
    first call).  ``new_seen``: DataFrame with a ``url_hash`` column.
    Returns the complete new state (REWRITE-table semantics).

    Blobs built under a different ``n_parts`` are DROPPED (their
    key→partition mapping no longer matches) — the engine detects the
    mismatch via the checkpoint's ``filters_parts`` stat and refolds
    the FULL seen set on such rounds, so the rebuilt state is complete.
    """

    def fold(part: int, rows: list, pending: np.ndarray) -> list:
        if len(pending) and rows:
            cur = rows[-1]
            room = int(cur["capacity"]) - int(cur["n_keys"])
            if room > 0:
                take, pending = pending[:room], pending[room:]
                table = codec.load(cur["filter"])
                left = codec.insert(table, take)
                cur["filter"] = codec.dump(table)
                cur["n_keys"] = int(cur["n_keys"]) + int((~left).sum())
                if left.any():
                    pending = np.concatenate([take[left], pending])
        while len(pending):
            cap = max(_MIN_CAPACITY, 2 * len(pending))
            table = codec.empty(cap)
            left = codec.insert(table, pending)
            rows.append(
                {
                    "part_id": part,
                    "epoch": (int(rows[-1]["epoch"]) + 1) if rows else 0,
                    "filter": codec.dump(table),
                    "n_keys": int((~left).sum()),
                    "capacity": cap,
                    "n_parts": n_parts,
                }
            )
            if left.all():  # fresh 2×-sized epoch must make progress
                raise RuntimeError(
                    f"filter epoch insert made no progress (part {part}, "
                    f"{len(pending)} keys, capacity {cap})"
                )
            pending = pending[left]  # geometric epochs: terminates
        return rows

    prev = filters_prev.filter(F.col("n_parts") == F.lit(n_parts))
    return cogroup_state(prev, new_seen, n_parts, fold)


def prune_seen_to_maybe_parts(
    seen: DataFrame, needs_check: DataFrame, n_parts: int
) -> DataFrame:
    """Restrict the seen scan to the partitions the "maybe seen"
    survivors hash into.  ``seen`` must carry the Hive ``seen_part``
    column (= pmod(url_hash, n_parts), CrawlConfig.partition_url_seen);
    pruning is exact because a candidate in part p can only collide
    with seen keys in part p (same pmod).  The distinct-part collect is
    one tiny job (≤ n_parts values) — the price of turning the exact
    verify's O(|url_seen|) per-round scan into a scan of only the hit
    partitions at 10^10 keys (shows as PartitionFilters in the plan).
    """
    parts = [
        r["p"]
        for r in needs_check.select(
            part_id_col("url_hash", n_parts).alias("p")
        )
        .distinct()
        .collect()
    ]
    if not parts:
        return seen.limit(0)
    return seen.filter(F.col("seen_part").isin(parts))


def probe_filter_state(
    codec: Codec,
    candidates: DataFrame,
    seen: DataFrame,
    filters_state: DataFrame,
    n_parts: int = 64,
    prune_seen_parts: bool = False,
    unpersist_into: list | None = None,
) -> DataFrame:
    """candidates \\ seen — exact, prefiltered by the partitioned state.

    Candidates shuffle once on part_id to meet their partition's blobs
    (cogroup); only "maybe seen" survivors pay the exact anti-join.
    Logical result identical to the plain anti-join (pinned in tests).

    Blobs persisted under a different ``n_parts`` (or legacy state with
    none recorded) are filtered out up front: their key→partition
    mapping doesn't match the current config, so probing them would
    yield false "definitely new".  Partitions left with no valid blobs
    fall into the conservative ``_maybe=True`` default below — i.e.
    the exact anti-join.
    """
    filters_state = filters_state.filter(F.col("n_parts") == F.lit(n_parts))
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe", T.BooleanType(), False)]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def probe(key, cands: pd.DataFrame, blobs: pd.DataFrame) -> pd.DataFrame:
        if not len(cands):
            return pd.DataFrame(columns=cand_cols + ["_maybe"])
        out = cands[cand_cols].copy()
        if not len(blobs):
            # Conservative default: a partition with NO filter blobs means
            # absent/partial filter state (lost state dir, bloom_parts
            # changed, filters enabled mid-crawl) — NOT "nothing seen".
            # Degrade to the exact anti-join instead of silently skipping
            # dedup for the whole partition.
            out["_maybe"] = True
            return out
        h = cands["url_hash"].to_numpy(dtype=np.int64)
        maybe = np.zeros(len(h), dtype=bool)
        for blob in blobs["filter"]:
            maybe |= codec.lookup(codec.load(blob), h)
        out["_maybe"] = maybe
        return out

    cand_k = candidates.withColumn("part_id", part_id_col("url_hash", n_parts)).groupBy(
        "part_id"
    )
    flagged = cand_k.cogroup(filters_state.groupBy("part_id")).applyInPandas(
        probe, schema=out_schema
    )
    pruning = prune_seen_parts and "seen_part" in seen.columns
    if pruning:
        # the prune's distinct-part collect is EAGER: without a persist
        # it would execute the whole probe pipeline once for the part
        # list and AGAIN for the anti-join.  Cache it and register the
        # persisted frame with the caller's unpersist list AT PERSIST
        # TIME (``unpersist_into``), so the caller's finally releases
        # it even if the round raises mid-way — the explicit hand-off
        # that replaced the fragile ``_probe_cache`` attribute (r3
        # ADVICE: any wrapper between here and the engine silently
        # dropped the monkey-patched reference).
        flagged = flagged.persist()
        if unpersist_into is not None:
            unpersist_into.append(flagged)
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    seen_keys = seen
    if pruning:
        seen_keys = prune_seen_to_maybe_parts(seen, needs_check, n_parts)
    checked = needs_check.join(
        seen_keys.select("url_hash"), "url_hash", "left_anti"
    )
    return definitely_new.unionByName(checked)


def probe_filter_state_with_delta(
    codec: Codec,
    candidates: DataFrame,
    seen_prev: DataFrame,
    new_seen: DataFrame,
    filters_state: DataFrame,
    n_parts: int = 64,
    prune_seen_parts: bool = False,
    unpersist_into: list | None = None,
) -> DataFrame:
    """candidates \\ (seen_prev ∪ new_seen), with the filter prefilter
    applied ONLY to the part it actually covers.

    The persisted filter state covers keys through the PREVIOUS round;
    ``new_seen`` (this round's fetches) is not yet folded in.  Probing
    the filters against the union would mark a candidate first seen
    THIS round as definitely-new and skip the exact join — a double
    fetch (the filter/exact mismatch flagged in round-1 advice).  So:
    prefiltered exact anti-join against ``seen_prev`` (what the blobs
    cover), then a plain anti-join against the one-round ``new_seen``
    delta (small; broadcast by AQE).  Result is exactly
    ``candidates \\ seen_all``.
    """
    base = probe_filter_state(
        codec, candidates, seen_prev, filters_state, n_parts, prune_seen_parts,
        unpersist_into=unpersist_into,
    )
    return base.join(new_seen.select("url_hash"), "url_hash", "left_anti")


update_seen_filters = partial(fold_filter_state, BLOOM)
anti_join_seen_partitioned = partial(probe_filter_state, BLOOM)
anti_join_seen_with_delta = partial(probe_filter_state_with_delta, BLOOM)


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None = None,
    n_parts: int = 64,
) -> DataFrame:
    """candidates \\ seen, by url_hash — exact.

    ``filters``: Bloom FILTER_STATE_SCHEMA state (see
    :func:`update_seen_filters`), probed by the partitioned path, or
    None → plain ``left_anti`` join.  The logical result is identical
    either way (pinned in tests); only the join input size changes.
    """
    if filters is None:
        return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
    return anti_join_seen_partitioned(candidates, seen, filters, n_parts)
