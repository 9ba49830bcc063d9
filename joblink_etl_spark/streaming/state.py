"""The keyed-state primitives of the streaming operators.

Every stateful fold in streaming/pipeline.py is `keyed_fold(...)` or
`bucket_fold(...)`, both over Spark's checkpointed state store
(`applyInPandasWithState`):

- `keyed_fold`: a per-key `step(key, pdf, state) -> (new_state, out)`
  over all of the key's rows in the micro-batch, one Python call per
  key and micro-batch, with per-key timeouts;
- `bucket_fold`: a per-bucket `step(pdf, held) -> (new_held, out)`
  over all rows of STATE_BUCKETS hash buckets of the keys, one Python
  call per bucket and micro-batch, the state a table of the bucket's
  keys. For folds over a bounded key set whose per-key call cost
  dominates; no timeouts.

This module is the only place that touches `GroupState`/
`GroupStateTimeout`; an operator keeps only its schemas, its
scan-side projection and its fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    MapType,
    StructField,
    StructType,
)

# bucket_fold's state layout: a key's bucket is
# pmod(xxhash64(keys), STATE_BUCKETS). It is part of the checkpoint
# format — a changed count or hash moves keys to other buckets, whose
# state does not hold them, and Spark's state-schema check cannot see
# that — so it is fixed here, not derived from the session's shuffle
# partitions.
STATE_BUCKETS = 64
BUCKET_COL = "_state_bucket"


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


def state_bucket(*keys):
    """The state bucket (0 .. STATE_BUCKETS - 1) of the key columns."""
    return F.pmod(F.xxhash64(*keys), F.lit(STATE_BUCKETS))


def held_table_schema(key_fields, state_schema) -> StructType:
    """bucket_fold's state: the key and state columns of the bucket's
    held table, one array each (a struct of arrays)."""
    fields = list(key_fields) + list(state_schema.fields)
    return StructType([StructField(f.name, ArrayType(f.dataType)) for f in fields])


def fold_bucket(pdf_iter, state, table, step):
    """One bucket's call in one micro-batch — the function Spark runs
    per bucket. `step` gets all of the bucket's rows as ONE frame,
    without the bucket column, and `held`: the bucket's table, one row
    per key it has seen, the key columns then the state columns of
    `table` (bucket_fold's state schema), typed the way pyspark types
    the batch rows (a long column with NULLs is float64), empty for a
    new bucket. `new_held` (same columns) is written back cast to the
    table's types; `out` (a DataFrame, or None for no rows) is emitted
    after it."""
    import pandas as pd  # noqa: PLC0415 — executor-side imports
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType.elementType, timestamp_utc=False)) for f in table]
    )
    values = state.get if state.exists else [[]] * len(schema)
    held = pa.Table.from_arrays(
        [pa.array(v, f.type) for v, f in zip(values, schema)], schema=schema
    ).to_pandas()
    pdf = pd.concat(list(pdf_iter), ignore_index=True).drop(columns=BUCKET_COL)
    new_held, out = step(pdf, held)
    written = pa.Table.from_pandas(new_held[schema.names], schema=schema, preserve_index=False)
    state.update(tuple(col.to_pylist() for col in written.columns))
    if out is not None:
        yield out


def bucket_fold(df, keys, out_schema, state_schema, step) -> DataFrame:
    """Group `df` by `state_bucket(keys)` and run `fold_bucket` per
    bucket and micro-batch. The state of a bucket is the table of the
    keys it has seen with their `state_schema` fields, rewritten whole
    every micro-batch the bucket gets rows: meant for a bounded key
    set. `step(pdf, held) -> (new_held, out)` tells keys apart in
    pandas, which has one NULL where Spark keeps NaN apart from NULL,
    and cannot hash nested values: a floating-point or nested key
    column is a ValueError here. Output is `out_schema` rows in
    append mode, as keyed_fold's; there are no timeouts."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    for k in keys:
        dt = df.schema[k].dataType
        if isinstance(dt, (FloatType, DoubleType, ArrayType, MapType, StructType)):
            raise ValueError(
                f"bucket_fold key column {k!r} is {dt.simpleString()}: keys must be "
                "non-floating atomic types (bin or cast the column first)"
            )
    table = held_table_schema([df.schema[k] for k in keys], state_schema)

    def run(key, pdf_iter, state):
        return fold_bucket(pdf_iter, state, table, step)

    return (
        df.withColumn(BUCKET_COL, state_bucket(*keys))
        .groupBy(BUCKET_COL)
        .applyInPandasWithState(run, out_schema, table, "append", GroupStateTimeout.NoTimeout)
    )
