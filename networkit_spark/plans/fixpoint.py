"""The monotone-fixpoint superstep loop shared by hash-min WCC, SCC's
struct-max coloring and h-index k-core.

Each of those kernels iterates a deterministic sweep whose per-vertex value
only moves one way (min labels, max colors, non-increasing h-indices), so
"the last sweep changed nothing" is the fixpoint. The sweep body builds the
next state lazily as (id, <value>, old), carrying the pre-sweep value as
`old`; this loop owns everything else about materializing it:

  * persist the sweep output FIRST, then run ONE aggregate job over the
    cache: the changed-row count (value != old, a cache scan rather than a
    |V|⋈|V| compare join) plus any extra aggregates the caller asks for.
    An eager checkpoint straight off the unpersisted multi-consumer join
    pipeline re-executes it per consumer — measured geometric (3×/sweep)
    cost growth in SCC's coloring (CLAUDE.md rule 11);
  * a no-op sweep returns the previous, already-truncated state: no
    checkpoint job;
  * otherwise truncate lineage with a LAZY localCheckpoint — the plan break
    is immediate, its materialization rides inside the next sweep's
    aggregate job, so each sweep costs one driver-sequenced job, not two —
    or, with a SuperstepCheckpointer, save the state as Parquet together
    with the sweep's metrics (resumable runs);
  * the cache backing a lazy checkpoint is released one sweep late, after
    the next aggregate job has read it; one still live when the loop ends
    is materialized by a cache-scan job before its cache goes;
  * the next sweep's delta frontier is `filter(value != old)` of the
    checkpointed frame (the full state after a Parquet save, which drops
    `old`).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


@dataclass
class Sweep:
    """What a sweep body reads: the state at sweep start, the rows whose
    value changed in the previous sweep (every row in the first sweep and
    after a Parquet save), and the previous sweep's aggregate row (None in
    the first sweep; fields `chg` plus the caller's extra aggregates)."""

    state: DataFrame
    delta: DataFrame
    last: Row | None
    pinned: list[DataFrame] = field(default_factory=list)

    def pin(self, df: DataFrame) -> DataFrame:
        """Lazily persist a frame the sweep output reads more than once;
        released once this sweep's aggregate job has filled the output
        cache."""
        df = df.persist()
        self.pinned.append(df)
        return df


def monotone_fixpoint(
    state: DataFrame,
    sweep: Callable[[Sweep], DataFrame],
    value: str,
    max_sweeps: int,
    start: int = 0,
    aggs: Sequence[Column] = (),
    checkpointer=None,
    ckpt_name: str = "state",
) -> DataFrame:
    """Iterate `sweep` from `state` (id, value) until a sweep changes no row
    or `max_sweeps` sweeps (numbered from `start`) have run; returns the
    final (id, value) frame, lineage-truncated and with no cache left
    behind. `aggs` are extra aggregate columns folded into the per-sweep
    changed-count job. With `checkpointer`, every changing sweep is saved
    as `ckpt_name` with metrics n_updated/delta_norm/wall_ms."""
    changed = F.col(value) != F.col("old")
    last: Row | None = None
    n_changed = 0
    prev_cache: DataFrame | None = None
    delta = state
    for it in range(start, max_sweeps):
        t0 = time.time()
        s = Sweep(state, delta, last)
        cached = sweep(s).persist()
        last = cached.agg(
            F.sum(changed.cast("long")).alias("chg"), *aggs
        ).first()
        n_changed = int(last["chg"] or 0)
        for df in s.pinned:
            df.unpersist()
        if n_changed == 0:
            # the aggregate job above also materialized the previous lazy
            # checkpoint, so prev_cache is releasable below
            cached.unpersist()
            break
        if checkpointer is not None:
            state = checkpointer.save(
                it,
                {ckpt_name: cached.select("id", value)},
                metrics={
                    "n_updated": n_changed,
                    "delta_norm": float(n_changed),
                    "wall_ms": int((time.time() - t0) * 1000),
                },
            )[ckpt_name]
            delta = state
            cached.unpersist()
            continue
        out = cached.localCheckpoint(eager=False)
        state = out.select("id", value)
        delta = out.filter(changed).select("id", value)
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = cached
    if prev_cache is not None:
        if n_changed != 0:
            state.count()
        prev_cache.unpersist()
    return state
