"""The one keyed-state primitive of the streaming operators.

Every stateful fold in streaming/pipeline.py is `keyed_fold(...)`: a
per-key `step(key, pdf, state) -> (new_state, out)` over all of the
key's rows in the micro-batch, with the state carried across
micro-batches by Spark's checkpointed state store
(`applyInPandasWithState`). This module is the only place that
touches `GroupState`/`GroupStateTimeout`; an operator keeps only its
schemas, its scan-side projection and its fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fold_key(key, pdf_iter, state, init, step, timeout=None, expire=None):
    """One key's call in one micro-batch — the function Spark runs per
    key. A key that timed out calls `expire(key, state) -> out` and
    loses its state. Otherwise `step` gets the key's rows as ONE
    frame (the whole micro-batch of the key, not its Arrow chunks)
    and the stored state tuple, or `init` for a new key; its new
    state is stored and, under a timeout, the key's deadline is
    re-armed from it on every touch: `("processing", ms_fn)` sets a
    duration of `ms_fn(new_state)` ms from now, `("event", ts_ms_fn)`
    the event-time deadline `ts_ms_fn(new_state)`. `out` (a
    DataFrame, a dict of columns, or None for no rows) is emitted
    after the state is written."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    if state.hasTimedOut:
        out = expire(key, state.get)
        state.remove()
    else:
        new_state, out = step(key, pd.concat(list(pdf_iter)), state.get if state.exists else init)
        state.update(new_state)
        if timeout is not None:
            kind, ms_fn = timeout
            arm = state.setTimeoutDuration if kind == "processing" else state.setTimeoutTimestamp
            arm(ms_fn(new_state))
    if out is not None:
        yield out if isinstance(out, pd.DataFrame) else pd.DataFrame(out)


def keyed_fold(df, keys, out_schema, state_schema, init, step, timeout=None, expire=None) -> DataFrame:
    """Group `df` by `keys` and run `fold_key` per key and micro-batch
    over `state_schema` state. Output is `out_schema` rows in append
    mode: each emission is an event (the fold's answer as of this
    batch), so file sinks work. `timeout` is None (state lives as long
    as the query), `("processing", ms_fn)` or `("event", ts_ms_fn)`,
    see `fold_key`; an event-time timeout needs a watermark on `df`."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    names = {None: "NoTimeout", "processing": "ProcessingTimeTimeout", "event": "EventTimeTimeout"}
    conf = getattr(GroupStateTimeout, names[timeout and timeout[0]])

    def run(key, pdf_iter, state):
        return fold_key(key, pdf_iter, state, init, step, timeout, expire)

    return df.groupBy(*keys).applyInPandasWithState(run, out_schema, state_schema, "append", conf)
