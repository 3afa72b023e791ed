"""URL-seen dedup: the CUCKOO-filter codec of the shared filter path.

The north rule names "bloom/cuckoo URL-seen"; ``operators/dedup.py``
holds the one filter path (state schema, cogroup fold and probe,
seen-part pruning, same-round-delta anti-join) and the Bloom codec.
This module is the cuckoo codec (Fan et al., "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014) bound to that path under
the SAME names the engine consumes (``FILTER_STATE_SCHEMA``,
``update_seen_filters``, ``anti_join_seen_partitioned``,
``anti_join_seen_with_delta``), so ``CrawlConfig(filter_kind="cuckoo")``
swaps the state kind with no other engine change.  Semantics are
identical by construction — the filter is only a prefilter; "maybe
seen" survivors always go through the exact ``left_anti`` join
(north_rule: "identical URL-seen set").

What the cuckoo kind adds over Bloom:

- **deletion** (``delete_keys``): a recrawl scheduler can un-see a
  stale URL so the next round re-fetches it, WITHOUT rebuilding the
  filter state — impossible with a Bloom (bits are shared).  Standard
  cuckoo caveat applies and is enforced by the caller: only delete
  keys known to be inserted (the engine deletes from the exact seen
  table in the same commit, which is the source of truth anyway).
- **lower FPP for the same state size regime**: 16-bit fingerprints,
  4-slot buckets → ~2·b/2^f ≈ 0.012% per epoch vs the Bloom's ~1%,
  so fewer candidates pay the exact join.

Layout per (part_id, epoch): ``table`` is an (n_buckets × 4) uint16
array (0 = empty; fingerprints are remapped to be nonzero),
n_buckets a power of two.  Bucket choice uses a splitmix-style mix of
the 64-bit url_hash — NOT the raw low bits, which are constant within
a partition (part_id = hash mod n_parts uses them).  An insert can
leave leftovers (an epoch is full, or a key exceeds MAX_KICKS
evictions); the shared fold opens a fresh 2×-sized epoch for them.
The fold sorts the key batch first, so the table bytes are
deterministic for a given key set.

The membership probe is fully vectorized numpy (two gathers + compare).
Insert/delete walk residual keys in a Python loop, but only over the
per-round DELTA within one partition task — the probe (every round ×
every candidate) is the hot path, not the fold.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from .dedup import (
    FILTER_STATE_SCHEMA,  # noqa: F401 — same state contract as the Bloom kind
    Codec,
    cogroup_state,
    fold_filter_state,
    probe_filter_state,
    probe_filter_state_with_delta,
)

_SLOTS = 4
_MAX_KICKS = 500
_LOAD = 0.95  # target fill; 4-slot tables reliably reach ~95%


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche so bucket bits are independent of the
    low bits consumed by part_id = hash mod n_parts."""
    z = h.astype(np.uint64)
    z = (z ^ (z >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    z ^= z >> np.uint64(33)
    return z


def _fingerprints(h: np.ndarray) -> np.ndarray:
    fp = ((_mix(h) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = 0x9E37  # 0 is the empty-slot sentinel
    return fp


def _bucket_pair(h: np.ndarray, fp: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    mask = np.uint64(m - 1)  # m is a power of two
    i1 = (_mix(h) & mask).astype(np.int64)
    fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & mask
    i2 = (i1.astype(np.uint64) ^ fph).astype(np.int64)
    return i1, i2


def _alt_bucket(i: int, fp: int, m: int) -> int:
    return int((np.uint64(i) ^ ((np.uint64(fp) * np.uint64(0x5BD1E995)) & np.uint64(m - 1))))


def _n_buckets_for(capacity: int) -> int:
    m = 1
    while m * _SLOTS * _LOAD < capacity:
        m *= 2
    return max(m, 64)


def _lookup(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in either candidate bucket."""
    m = table.shape[0]
    fp = _fingerprints(h)
    i1, i2 = _bucket_pair(h, fp, m)
    return (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)


def _insert_with_undo(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Insert keys; returns a bool mask of keys that did NOT fit (caller
    opens a fresh epoch for them).

    Two phases.  The bulk phase is vectorized: rounds of conflict-free
    claims (one claimant per bucket per round via ``np.unique``, i1
    preferred over i2), which places everything short of eviction —
    the common case at ≤95% load, and the reason a 10^5-key partition
    delta folds in milliseconds instead of a per-key Python walk.  The
    residue takes the classic per-key eviction walk (victim slot
    cycles with the kick count, start at i1 — deterministic); a failed
    chain is rolled back via an exact undo log so the table is left
    unchanged — a chain abandoned mid-rotation would displace an
    EARLIER key's fingerprint out of both its buckets, i.e. a false
    negative."""
    m = table.shape[0]
    fp = _fingerprints(h)
    i1, i2 = _bucket_pair(h, fp, m)
    n = len(h)
    placed = np.zeros(n, dtype=bool)
    while True:
        progressed = False
        for buckets in (i1, i2):
            rem = np.flatnonzero(~placed)
            if not len(rem):
                break
            b = buckets[rem]
            has_free = (table[b] == 0).any(axis=1)
            cand = rem[has_free]
            if not len(cand):
                continue
            _, first = np.unique(buckets[cand], return_index=True)
            take = cand[first]
            tb = buckets[take]
            slot = (table[tb] == 0).argmax(axis=1)
            table[tb, slot] = fp[take]
            placed[take] = True
            progressed = True
        if not progressed or placed.all():
            break

    leftover = np.zeros(n, dtype=bool)
    for k in np.flatnonzero(~placed):
        f = int(fp[k])
        b = int(i1[k])
        done = False
        log: list[tuple[int, int, int]] = []  # (bucket, slot, previous fp)
        for kick in range(_MAX_KICKS):
            slot = kick % _SLOTS
            prev = int(table[b, slot])
            log.append((b, slot, prev))
            table[b, slot] = f
            f = prev
            b = _alt_bucket(b, f, m)
            empty = np.flatnonzero(table[b] == 0)
            if len(empty):
                table[b, empty[0]] = f
                done = True
                break
        if not done:
            for b_u, slot_u, prev_u in reversed(log):
                table[b_u, slot_u] = prev_u
            leftover[k] = True
    return leftover


def _delete(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Remove ONE stored copy of each key's fingerprint; returns a bool
    mask of keys actually deleted from this table.  Vectorized rounds
    with one claimant per (bucket, slot) — two distinct keys sharing a
    (bucket, fingerprint) pair each remove their own copy, never the
    same slot twice."""
    m = table.shape[0]
    fp = _fingerprints(h)
    i1, i2 = _bucket_pair(h, fp, m)
    deleted = np.zeros(len(h), dtype=bool)
    while True:
        progressed = False
        for buckets in (i1, i2):
            rem = np.flatnonzero(~deleted)
            if not len(rem):
                break
            b = buckets[rem]
            match = table[b] == fp[rem][:, None]
            hasm = match.any(axis=1)
            cand = rem[hasm]
            if not len(cand):
                continue
            slot = match[hasm].argmax(axis=1)
            tb = buckets[cand]
            _, first = np.unique(tb * _SLOTS + slot, return_index=True)
            table[tb[first], slot[first]] = 0
            deleted[cand[first]] = True
            progressed = True
        if not progressed:
            break
    return deleted


CUCKOO = Codec(
    empty=lambda cap: np.zeros((_n_buckets_for(cap), _SLOTS), dtype=np.uint16),
    load=lambda blob: np.frombuffer(bytearray(blob), dtype=np.uint16).reshape(-1, _SLOTS),
    dump=lambda table: table.tobytes(),
    insert=_insert_with_undo,
    lookup=_lookup,
)

update_seen_filters = partial(fold_filter_state, CUCKOO)
anti_join_seen_partitioned = partial(probe_filter_state, CUCKOO)
anti_join_seen_with_delta = partial(probe_filter_state_with_delta, CUCKOO)


def delete_keys(
    filters_state: DataFrame,
    del_keys: DataFrame,
    n_parts: int = 64,
) -> DataFrame:
    """Un-see keys (recrawl invalidation): remove one fingerprint copy
    per key, newest epoch first.  The Bloom kind has no counterpart —
    this is the operation that motivates the cuckoo kind.  Only keys
    actually inserted may be deleted (standard cuckoo-filter contract);
    the engine guarantees that by deleting from the exact seen table in
    the same commit."""

    def step(part: int, rows: list, h: np.ndarray) -> list:
        remaining = np.unique(h)
        for cur in reversed(rows):  # newest epoch first
            if not len(remaining):
                break
            table = CUCKOO.load(cur["filter"])
            deleted = _delete(table, remaining)
            if deleted.any():
                cur["filter"] = CUCKOO.dump(table)
                cur["n_keys"] = max(0, int(cur["n_keys"]) - int(deleted.sum()))
                remaining = remaining[~deleted]
        return rows

    return cogroup_state(filters_state, del_keys, n_parts, step)
