"""Seeded input generator. The seed picks the URL-class permutation,
the ids and slugs of the drain links, and the event stream and its
split into source files. The generated rows are the only inputs
handed to the package."""

from __future__ import annotations

import random
from datetime import datetime

from .expect import URL_CLASSES, make_url

# one reference trigger (batch_size = notes_batch_size = 12): every URL
# class once, and greenhouse, lever, direct and thin once more to fill
# the batch (a fixed choice, not a measured mix). The mix is the same
# for every seed, so per-link counts are too. The drain runs one cycle:
# a parse batch and a notes batch.
DRAIN_CLASSES = URL_CLASSES + ("greenhouse", "lever", "direct", "thin")
SLUGS = ["acme-corp", "north-wind", "blue-sky-labs", "orbit", "kite_works", "red-oak"]

# Shape of the sf0.1 ``events`` table the package's tests and
# bench_streaming.py read, measured on that table with DuckDB: 100 000
# rows in event_id order from 2024-01-01 00:00 over 30 days; the gap
# between consecutive ts is exponential with mean 25.92 s (std 26.09 s);
# event_type takes five values at 20 % each (19 810-20 302 rows);
# user_id is uniform on 0-1499; value is exponential with mean 49.87
# (median 34.77, 13.4 % above 100, max 560.21) in cents; props is
# '{"k": n}' with n uniform on 0-99.
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EVENT_ROWS = 100_000
EVENT_GAP_MEAN_S = 25.92
EVENT_USERS = 1500
EVENT_VALUE_MEAN = 49.87
STREAM_FILES = 2
T0 = datetime(2024, 1, 1)


def drain_links(seed: int) -> list[dict]:
    """Tracker links of the DRAIN_CLASSES mix; the seed picks their
    order, job ids, company slugs and site numbers."""
    rng = random.Random(seed)
    classes = list(DRAIN_CLASSES)
    rng.shuffle(classes)
    # five digits or more, which the role cleaner strips as a job id
    ids = rng.sample(range(10_000, 1_000_000), len(classes))
    links = []
    for row, (cls, jid) in enumerate(zip(classes, ids)):
        slug = rng.choice(SLUGS)
        site = rng.randrange(1, 100)
        links.append(
            {
                "row_index": row + 2,  # sheet rows start under the header
                "cls": cls,
                "id": jid,
                "slug": slug,
                "url": make_url(cls, jid, slug, site),
            }
        )
    return links


def events(seed: int, n: int = EVENT_ROWS):
    """An ``events`` table (pyarrow) drawn from the measured shape of
    the sf0.1 table, in event_id (= ts) order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng([seed, 1])
    gap_us = np.rint(rng.exponential(EVENT_GAP_MEAN_S * 1e6, n)).astype(np.int64)
    ts = np.datetime64(T0, "us") + np.cumsum(gap_us).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2)),
            "props": pc.binary_join_element_wise(
                '{"k": ', pa.array(rng.integers(0, 100, n)).cast(pa.string()), "}", ""
            ),
        }
    )


def qi_rows(events):
    """The k-anonymity gate's quasi-identifier projection of an events
    table, as the registered ``k_anon_gate`` query spells it: event
    type, hour of day and value in bins of 10."""
    import numpy as np
    import pyarrow as pa

    ts = events["ts"].to_numpy()
    return pa.table(
        {
            "event_type": events["event_type"],
            "hour": pa.array((ts - ts.astype("datetime64[D]")) // np.timedelta64(1, "h")),
            "value_bin": pa.array(np.floor(events["value"].to_numpy() / 10).astype(np.int64)),
            "event_id": events["event_id"],
        }
    )


def file_split(seed: int, n: int, parts: int = STREAM_FILES) -> list[int]:
    """Seeded boundaries [0, c1, ..., n] of the stream's source files:
    each file holds n / parts rows, give or take a tenth."""
    rng = random.Random(seed * 31 + 5)
    size, jitter = n // parts, n // (10 * parts)
    return [0] + [i * size + rng.randint(-jitter, jitter) for i in range(1, parts)] + [n]
