"""Stateful LRU key ring — the genuinely custom operator (SURVEY §2.5 O2,
§2.6 T7; hardest-piece #1 in §7 Phase 3).

Reference semantics (signer/index.js:151-214, README.md:15-20):
- one key per processing batch;
- least-recently-used key selected (ORDER BY last_used_at ASC LIMIT 1);
- selecting a key updates its last_used_at → repeated selection round-robins
  the ring;
- no concurrent use of a key (Aurora FOR UPDATE SKIP LOCKED).

Spark re-expression: the ring lives in the Structured Streaming state store
(checkpointed — Aurora replaced by state), updated by
``applyInPandasWithState``. Horizontal scale comes from sharding the keys
into G independent rings: record ``ring_id = pmod(record_key, G)`` routes
each record to exactly one ring, each ring owns a disjoint key subset
(``key_id % G``), and state-partition affinity guarantees no two tasks ever
share a ring — which replaces FOR UPDATE SKIP LOCKED with no locks at all
(SURVEY §2.5 O4). Within a ring, key assignment is serialized exactly like
the reference's single keyring table; across rings throughput scales with G
(the state shuffle hashes on ring_id, so G state partitions run G tasks).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "ring_id long, batch_id long, key_id long, n_records long"
STATE_SCHEMA = "state_json string"


def ring_of_key(key_id: int, n_rings: int) -> int:
    """Which ring owns a key. Shared by the operator, the oracle SQL, and
    the no-key-in-two-rings invariant test."""
    return key_id % n_rings


RING_TOPOLOGY_FILE = "_slsp_rings.json"


def guard_ring_topology(checkpoint_location: str, n_rings: int) -> None:
    """Ring-count guard + sidecar — the G→2G resharding runbook's
    fail-loudly half (r13, VERDICT r12 #8).

    The ring count is TOPOLOGY BAKED INTO THE STATE KEY: records route by
    ``event_id % G`` and keys are owned by ``key_id % G``, so changing G
    over an existing checkpoint is never a restart — it is a reshard.
    Spark will happily restart the stream anyway: rings ``0..G-1``
    restore their old state (whose key lists were built for the OLD
    ownership map) while rings ``G..G'-1`` seed fresh — and a key whose
    ownership moved (``key_id % G' != key_id % G``) is then rotated by
    TWO rings at once, silently breaking the mutual-exclusion contract
    that replaces the reference's FOR UPDATE SKIP LOCKED
    (signer/index.js:151-214). Demonstrated live, not assumed:
    ``tests/test_keyring_reshard.py`` bypasses this guard and observes
    the double-use.

    So: record the ring count in a checkpoint sidecar on first start,
    and RAISE on any restart whose ring count differs. The supported
    reshard is the replay runbook (PLANS.md round-13): drain the stream at a batch boundary, start a
    FRESH checkpoint with the new G (rings reseed in rank order — the
    same deterministic seed a first boot uses), and replay the full
    source from the lake (T8); the replay converges to a valid G'-ring
    rotation with disjoint+complete key ownership. At 100 TB the replay
    cost is the lake scan — the price of changing a partitioning baked
    into state, the same bill Kafka Streams or Flink pay to change key
    groups."""
    import os

    os.makedirs(checkpoint_location, exist_ok=True)
    path = os.path.join(checkpoint_location, RING_TOPOLOGY_FILE)
    if os.path.exists(path):
        try:
            with open(path) as f:
                recorded = int(json.load(f)["n_rings"])
        except (OSError, ValueError, KeyError):
            recorded = None
        if recorded is not None and recorded != int(n_rings):
            raise RuntimeError(
                f"keyring reshard blocked: checkpoint "
                f"{checkpoint_location} was written with n_rings="
                f"{recorded}, restart requested n_rings={n_rings}. "
                f"Restarting in place would restore old-topology ring "
                f"state and rotate moved keys from two rings at once. "
                f"Reshard = drain, then start a FRESH checkpoint with "
                f"the new ring count and replay the full source "
                f"(PLANS.md round-13 runbook)."
            )
        return
    with open(path, "w") as f:
        json.dump({"n_rings": int(n_rings)}, f)


def _assign_batches(
    n_rows: int, st: dict, batch_size: int
) -> list[tuple[int, int, int]]:
    """Chunk ``n_rows`` ring-local records into processing batches and assign
    each the current LRU key. ``last_used`` is a logical clock so rotation
    is deterministic; ties break on key_id (stable for the seeded ring)."""
    out = []
    pos = 0
    ring = st["ring"]  # list of [key_id, last_used]
    while pos < n_rows:
        take = min(batch_size, n_rows - pos)
        i = min(range(len(ring)), key=lambda j: (ring[j][1], ring[j][0]))
        key_id = ring[i][0]
        st["clock"] += 1
        ring[i][1] = len(ring) + st["clock"]
        out.append((st["batches"], key_id, take))
        st["batches"] += 1
        pos += take
    return out


def lru_keyring_assign(
    events: DataFrame,
    key_ids: list[int],
    batch_size: int = 100,
    n_rings: int = 1,
) -> DataFrame:
    """Streaming stateful operator: (ring_id, batch_id, key_id, n_records)
    per processing batch; LRU rotation persisted across micro-batches,
    sharded over ``n_rings`` independent rings.

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
        if state.exists:
            st = json.loads(state.get[0])
        else:
            # seed: every key "last used" at its rank → LRU order = rank order
            st = {
                "ring": [[kid, rank] for rank, kid in enumerate(ring_keys)],
                "clock": 0,
                "batches": 0,
            }
        chunks = list(pdfs)  # materialize BEFORE truthiness: generators lie
        rows = (
            pd.concat(chunks)
            if chunks
            else pd.DataFrame({"event_id": pd.Series([], dtype="int64")})
        )
        if len(rows) == 0 or not st["ring"]:
            state.update((json.dumps(st),))
            yield pd.DataFrame(
                columns=["ring_id", "batch_id", "key_id", "n_records"]
            ).astype("int64")
            return
        out = _assign_batches(len(rows), st, batch_size)
        state.update((json.dumps(st),))
        yield pd.DataFrame(
            [(ring_id, b, k, n) for b, k, n in out],
            columns=["ring_id", "batch_id", "key_id", "n_records"],
        )

    return (
        events.select("event_id")
        .withColumn("ring_id", F.pmod(F.col("event_id"), F.lit(n_rings)))
        .groupBy("ring_id")
        .applyInPandasWithState(
            fn,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
