"""The keyed-state primitives (streaming/state.py) without Spark: the
per-key and per-bucket functions driven through a fake GroupState,
an AST guard that no other package module reaches the state API
directly, and (with Spark) the pinned layout of the state buckets."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

import joblink_etl_spark
from joblink_etl_spark.streaming.state import (
    BUCKET_COL,
    STATE_BUCKETS,
    fold_bucket,
    fold_key,
    held_table_schema,
    state_bucket,
)


class FakeState:
    """The part of pyspark's GroupState that fold_key may use, with
    the same refusal to `get` a state that does not exist."""

    def __init__(self, value=None, timed_out=False):
        self.value, self.hasTimedOut = value, timed_out
        self.removed = False
        self.durations, self.deadlines = [], []

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        if self.value is None:
            raise ValueError("state does not exist")
        return tuple(self.value)

    def update(self, value):
        assert value is not None
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.durations.append(ms)

    def setTimeoutTimestamp(self, ms):
        self.deadlines.append(ms)


def frames(*sizes, start=0):
    out = []
    for n in sizes:
        out.append(pd.DataFrame({"v": list(range(start, start + n))}))
        start += n
    return iter(out)


def counting_step(seen):
    """A count fold that records what state came in and emits one row."""

    def step(key, pdf, state):
        seen.append((state, list(pdf["v"])))
        (n,) = state
        n += len(pdf)
        return (n,), {"k": [key[0]], "n": [n]}

    return step


def run(state, chunks, step, **kw):
    return list(fold_key(("a",), chunks, state, (0,), step, **kw))


def test_fold_key_init_carry_and_whole_batch_frame():
    seen = []
    st = FakeState()
    out1 = run(st, frames(2, 3), counting_step(seen))
    out2 = run(st, frames(1, start=5), counting_step(seen))
    # first call folds from init, over the key's chunks as ONE frame
    assert seen[0] == ((0,), [0, 1, 2, 3, 4])
    # the stored state carries into the next micro-batch
    assert seen[1] == ((5,), [5])
    assert st.get == (6,)
    assert [o.to_dict("list") for o in out1 + out2] == [
        {"k": ["a"], "n": [5]},
        {"k": ["a"], "n": [6]},
    ]
    # no timeout configured: no deadline is ever set
    assert st.durations == [] and st.deadlines == []


def test_fold_key_out_forms():
    st = FakeState()
    assert run(st, frames(2), lambda k, pdf, s: ((1,), None)) == []
    assert st.get == (1,)  # a None out still stores the state
    pdf = pd.DataFrame({"x": [1, 2]})
    (got,) = run(st, frames(1), lambda k, p, s: ((2,), pdf))
    assert got is pdf


def test_fold_key_processing_timeout_rearms_on_every_touch():
    st = FakeState()
    step = counting_step([])
    for _ in range(3):
        run(st, frames(1), step, timeout=("processing", lambda s: 1000 * s[0]))
    assert st.durations == [1000, 2000, 3000]
    assert st.deadlines == []


def test_fold_key_event_timeout_deadline_from_new_state():
    st = FakeState(value=(10,))
    run(st, frames(4), counting_step([]), timeout=("event", lambda s: s[0] + 7))
    assert st.deadlines == [14 + 7]
    assert st.durations == []


@pytest.mark.parametrize("emitted", [None, {"k": ["a"], "n": [9]}])
def test_fold_key_timed_out_key_expires_then_removes(emitted):
    calls = []

    def expire(key, state):
        calls.append((key, state))
        return emitted

    def step(key, pdf, state):
        raise AssertionError("step must not run for a timed-out key")

    st = FakeState(value=(9,), timed_out=True)
    # Spark hands a timed-out key one empty frame
    out = list(
        fold_key(("a",), iter([pd.DataFrame({"v": []})]), st, (0,), step,
                 timeout=("event", lambda s: 1), expire=expire)
    )
    assert calls == [(("a",), (9,))]
    assert st.removed and not st.exists
    assert st.deadlines == []
    assert [o.to_dict("list") for o in out] == ([] if emitted is None else [emitted])


KEYS = [StructField("g", StringType()), StructField("h", LongType())]
HELD = held_table_schema(KEYS, StructType([StructField("n", LongType())]))


def bucket_rows(*rows):
    """One bucket's rows as Spark hands them: the key columns, a value
    and the bucket column."""
    return iter([pd.DataFrame(rows, columns=["g", "h", "v"]).assign(**{BUCKET_COL: 5})])


def count_keys(calls):
    """A per-key row count as a bucket step; records the held table it
    got and emits each row with its key's count after it."""

    def step(pdf, held):
        calls.append(held.copy())
        new = pdf[["g", "h"]].assign(n=1)
        stacked = pd.concat([held, new], ignore_index=True) if len(held) else new
        by_key = stacked.groupby(["g", "h"], dropna=False, sort=False)
        running = by_key["n"].cumsum()
        last = by_key.cumcount(ascending=False).to_numpy() == 0
        return stacked[last].assign(n=running[last]), pdf.assign(n=running.to_numpy()[len(held):])

    return step


def held_rows(st):
    return sorted(zip(*st.get), key=repr)


def test_fold_bucket_from_empty_state_then_carried():
    calls, st = [], FakeState()
    (out1,) = fold_bucket(bucket_rows(("a", 1, 0), ("a", 1, 1), ("b", None, 2)), st, HELD,
                          count_keys(calls))
    # a new bucket's held table is empty but typed
    assert len(calls[0]) == 0 and list(calls[0].columns) == ["g", "h", "n"]
    assert calls[0]["h"].dtype == "int64" and calls[0]["n"].dtype == "int64"
    # written back as the table's types: a NULL long is None, not NaN
    assert held_rows(st) == [("a", 1, 2), ("b", None, 1)]
    assert all(type(v) is int for v in st.get[2])

    (out2,) = fold_bucket(bucket_rows(("b", None, 3), ("c", 7, 4)), st, HELD, count_keys(calls))
    # the held counts carry into the next micro-batch, the long key
    # with a NULL typed as pyspark types it (float64)
    assert calls[1]["h"].dtype == "float64"
    assert out2["n"].tolist() == [2, 1]
    # "a" is absent from this batch and keeps its row
    assert held_rows(st) == [("a", 1, 2), ("b", None, 2), ("c", 7, 1)]
    # one frame per call, without the bucket column
    for out in (out1, out2):
        assert BUCKET_COL not in out.columns
    assert out1["n"].tolist() == [1, 2, 1]


def test_fold_bucket_out_none_still_writes_state():
    st = FakeState()
    got = list(fold_bucket(bucket_rows(("a", 1, 0)), st, HELD,
                           lambda pdf, held: (pdf[["g", "h"]].assign(n=4), None)))
    assert got == [] and held_rows(st) == [("a", 1, 4)]


def test_state_bucket_layout_is_pinned(spark):
    """bucket_fold's state layout is part of the checkpoint format: a
    changed count or hash moves keys to buckets whose state does not
    hold them, which resets their counts on restart (the k-anonymity
    gate would then release rows below k) and which Spark's
    state-schema check cannot see."""
    assert STATE_BUCKETS == 64
    rows = [("signup", 0, 0), ("view", 13, 4), ("error", None, 56), (None, 23, None)]
    df = spark.createDataFrame(rows, "event_type string, hour long, value_bin long")
    got = [r[0] for r in df.select(state_bucket("event_type", "hour", "value_bin")).collect()]
    assert got == [11, 45, 57, 39]


STATE_API = {
    "applyInPandasWithState",
    "GroupState",
    "GroupStateTimeout",
    "hasTimedOut",
    "setTimeoutDuration",
    "setTimeoutTimestamp",
}
STATE_METHODS = {"exists", "get", "update", "remove"}


def test_no_apply_in_pandas_with_state_outside_keyed_fold():
    """streaming/state.py is the package's only user of the
    GroupState API: code (not docstrings) elsewhere names none of it
    and calls no `state.exists`/`get`/`update`/`remove`."""
    root = Path(joblink_etl_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "streaming" / "state.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
                if name in STATE_METHODS and getattr(node.value, "id", None) == "state":
                    name = f"state.{name}"
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                continue
            if name in STATE_API or name.startswith("state."):
                hits.append(f"{path.relative_to(root)}:{node.lineno}: {name}")
    assert not hits, "GroupState API used outside streaming/state.py:\n" + "\n".join(hits)
