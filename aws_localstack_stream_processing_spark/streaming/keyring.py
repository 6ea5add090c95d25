"""Stateful LRU key ring — the genuinely custom operator (SURVEY §2.5 O2,
§2.6 T7; hardest-piece #1 in §7 Phase 3).

Reference semantics (signer/index.js:151-214, README.md:15-20):
- one key per processing batch;
- least-recently-used key selected (ORDER BY last_used_at ASC LIMIT 1);
- selecting a key updates its last_used_at → repeated selection round-robins
  the ring;
- no concurrent use of a key (Aurora FOR UPDATE SKIP LOCKED).

Spark re-expression: on a fixed ring where every pick updates the picked
key's ``last_used_at``, LRU selection is round-robin over the ring's keys
in sorted order. So the Structured Streaming state (checkpointed — Aurora
replaced by state, updated by ``applyInPandasWithState``) is one count per
ring: the processing batches it has assigned so far. Ring-local batch
``b`` takes ``ring_keys[b % len(ring_keys)]``.

Horizontal scale comes from sharding the keys into G independent rings:
record ``ring_id = pmod(record_key, G)`` routes each record to exactly one
ring, each ring owns a disjoint key subset (``key_id % G``), and
state-partition affinity guarantees no two tasks ever share a ring — which
replaces FOR UPDATE SKIP LOCKED with no locks at all (SURVEY §2.5 O4).
Within a ring, key assignment is serialized exactly like the reference's
single keyring table; across rings throughput scales with G (the state
shuffle hashes on ring_id, so G state partitions run G tasks).

Restarts: no key list lives in state, so every run uses the key list it is
given, and changing G on a live checkpoint is safe — each ring hands out
only the keys it owns under the new G, continuing its own batch count
(rings new to the checkpoint start at batch 0).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "ring_id long, batch_id long, key_id long, n_records long"
STATE_SCHEMA = "batches long"


def ring_of_key(key_id: int, n_rings: int) -> int:
    """Which ring owns a key. Shared by the operator, the oracle SQL, and
    the no-key-in-two-rings invariant test."""
    return key_id % n_rings


def _assign_batches(
    n_rows: int, done: int, ring_keys: list[int], batch_size: int
) -> list[tuple[int, int, int]]:
    """Chunk ``n_rows`` ring-local records into processing batches numbered
    from ``done`` (the batches the ring assigned before); batch ``b`` takes
    ``ring_keys[b % len(ring_keys)]``. Returns ``(batch_id, key_id,
    n_records)`` per batch."""
    sizes = [min(batch_size, n_rows - pos) for pos in range(0, n_rows, batch_size)]
    return [
        (b, ring_keys[b % len(ring_keys)], n)
        for b, n in enumerate(sizes, start=done)
    ]


def lru_keyring_assign(
    events: DataFrame,
    key_ids: list[int],
    batch_size: int = 100,
    n_rings: int = 1,
) -> DataFrame:
    """Streaming stateful operator: (ring_id, batch_id, key_id, n_records)
    per processing batch; the per-ring batch count persists across
    micro-batches, sharded over ``n_rings`` independent rings.

    Routing is cross-engine deterministic (``event_id % n_rings`` /
    ``key_id % n_rings``) so the whole sharded rotation has a pure-SQL
    oracle. batch_id is ring-local (each ring is its own serialized
    assignment line, like one reference keyring table per shard)."""
    by_ring: dict[int, list[int]] = {}
    for kid in sorted(key_ids):
        by_ring.setdefault(ring_of_key(kid, n_rings), []).append(kid)

    def fn(key, pdfs, state: GroupState):
        (ring_id,) = key
        ring_keys = by_ring.get(ring_id, [])
        done = state.get[0] if state.exists else 0
        n_rows = sum(len(pdf) for pdf in pdfs)
        out = _assign_batches(n_rows, done, ring_keys, batch_size) if ring_keys else []
        state.update((done + len(out),))
        yield pd.DataFrame(
            [(ring_id, b, k, n) for b, k, n in out],
            columns=["ring_id", "batch_id", "key_id", "n_records"],
            dtype="int64",
        )

    return (
        events.select(F.pmod(F.col("event_id"), F.lit(n_rings)).alias("ring_id"))
        .groupBy("ring_id")
        .applyInPandasWithState(
            fn,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
