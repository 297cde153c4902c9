"""Context→target training-pair construction over a keyed, ordered
event stream: for every row, the concatenation of its key's previous
``k`` payloads (event-time order) as the context and the row's own
payload as the target — the next-token / next-action supervised pair
a sequence-model pipeline mines from interaction logs (the same
shape builds SFT dialog pairs from conversation turns: key = thread,
payload = utterance).

Scale shape: one shuffle on the key, one ordered frame; both the
context list and its length come from THE SAME sliding frame, so
Catalyst evaluates a single Window node (plan-asserted). The context
is bounded at ``k`` elements — state per row is O(k), never a
per-key unbounded collect.

Determinism: the frame is ordered by (ts, tiebreak), which is a total
order, so ``collect_list`` over the frame is reproducible; rows with
an empty history emit context '' / n_ctx 0 (never NULL — consistent
across engines where empty-frame list aggregates return NULL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def context_target_pairs(events: DataFrame,
                         k: int = 5) -> DataFrame:
    """(key, id, context, n_ctx, target) per input row: context is the
    previous ``k`` payloads of the same key joined by ``sep``."""
    frame = (Window.partitionBy("user_id")
             .orderBy("ts", "event_id")
             .rowsBetween(-k, -1))
    ctx = F.collect_list("event_type").over(frame)
    return events.select(
        "user_id", "event_id",
        F.array_join(ctx, " | ").alias("context"),
        F.size(ctx).cast("int").alias("n_ctx"),
        F.col("event_type").alias("target"),
    )
