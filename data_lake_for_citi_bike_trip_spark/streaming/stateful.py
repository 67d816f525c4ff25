"""Custom stateful streaming operators (applyInPandasWithState).

The escape hatch for semantics Spark's built-in streaming aggregates can't
express: per-key mutable state carried across micro-batches, updated by
Arrow-batched pandas code. State lives in the state store (checkpointed,
partitioned by the grouping key) — the same shuffle/partitioning story as
a streaming groupBy, so it scales the same way.

``user_running_totals`` is deliberately simple (a per-user counter) so the
cross-batch state behavior is observable and oracle-checkable: the final
update per user must equal the batch count.

Every operator here uses applyInPandasWithState. Spark 4's
transformWithStateInPandas is not used: its Python state server speaks
protobuf, which the engine does not depend on.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, total_events bigint"
STATE_SCHEMA = "total bigint"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (total,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running event counts, one update row per (user, batch)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Custom sessionization: gap-based sessions with cross-batch state.
# session_window (streaming/pipeline.py) is the built-in form; this is
# the applyInPandasWithState form — the shape you need once sessions
# carry custom payloads (entry page, weighted dwell, ...) that the
# built-in window cannot accumulate.
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_idx bigint, n_events bigint, "
    "start_us bigint, end_us bigint"
)
SESSION_STATE_SCHEMA = (
    "last_us bigint, sess_idx bigint, sess_start_us bigint, sess_n bigint"
)


def advance_sessions(
    state: tuple | None, rows_us: list[int], gap_us: int
) -> tuple[tuple, list[tuple]]:
    """Pure session-walk core (unit-testable without a state store):
    fold sorted event times into the running session state, returning
    (new_state, emitted sessions-touched-this-batch).

    state = (last_us, sess_idx, sess_start_us, sess_n) or None.
    Emits one row per session that RECEIVED events in this batch, with
    its latest extent — update-mode semantics; a later batch extending
    the open session re-emits it with the larger extent.
    """
    touched: dict[int, tuple] = {}
    if state is None:
        last_us, idx, start_us, n = None, -1, 0, 0
    else:
        last_us, idx, start_us, n = state
    for us in rows_us:
        if last_us is None or us - last_us > gap_us:
            idx += 1
            start_us, n = us, 0
        n += 1
        last_us = us
        touched[idx] = (idx, n, start_us, last_us)
    return (last_us, idx, start_us, n), list(touched.values())


def user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based per-user sessionization with arbitrary state. Events of
    a key are walked in (ts, event_id) order WITHIN each batch; the open
    session's state crosses batches through the state store, so a user
    whose activity spans micro-batches keeps one session id. Emits
    update rows per touched session; with an availableNow single-batch
    drain the output is exactly the batch sessionization (the oracle).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        # normalize to MICROSECOND epoch ints regardless of whether the
        # Arrow batch landed as datetime64[ns] or [us]
        us = rows["ts"].astype("datetime64[us]").astype("int64").tolist()
        prev = tuple(state.get) if state.exists else None
        new_state, emitted = advance_sessions(prev, us, gap_us)
        state.update(new_state)
        if emitted:
            yield pd.DataFrame(
                [
                    (key[0], idx, n, start, end)
                    for idx, n, start, end in emitted
                ],
                columns=[
                    "user_id",
                    "session_idx",
                    "n_events",
                    "start_us",
                    "end_us",
                ],
            )

    return events.select("user_id", "ts", "event_id").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def multibatch_user_totals(
    spark, sf_dir: str, n_files: int = 6, files_per_trigger: int = 2
) -> "DataFrame":
    """Cross-batch state PROVEN on the contract surface: re-lay the
    events table as ``n_files`` parquet files, stream them with
    ``maxFilesPerTrigger`` so the drain runs MULTIPLE micro-batches,
    and fold per-user counts through applyInPandasWithState. The final
    per-user total (max across the update rows each batch emits) must
    equal the plain batch count — only true if state genuinely carries
    across batches. Counting is order-independent, so file->batch
    assignment order cannot perturb the result.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from ..sources.registry import load_table
    from . import pipeline as streaming

    scratch = tempfile.mkdtemp(prefix="spark_graft_multibatch_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    src = os.path.join(scratch, "events")
    load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(src)

    scoped = streaming.scoped_session(spark, 8)
    stream = (
        scoped.readStream.schema(load_table(scoped, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    updates = user_running_totals(stream)
    drained = streaming.run_available_now(
        updates, "q_stream_multibatch_totals", "update"
    )
    from pyspark.sql import functions as F

    return drained.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )
