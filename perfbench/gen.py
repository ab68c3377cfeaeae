"""Seeded input generation.

Every input the benchmark feeds the engine is made here from the run's
``--seed``: the same seed gives byte-identical files, another seed gives
other data of the same shape and size. Tables use the ``events`` schema of
``oracle.TABLE_SCHEMAS`` so the engine's own DuckDB oracle SQL can check
the results.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds
T0_US = 1_704_067_200_000_000
_HOUR_US = 3_600_000_000

#: event_type vocabulary: the five real event kinds, plus numeric-, date-
#: and boolean-looking strings for the profile's latent-type counters and
#: blank strings for its empty counter
EVENT_TYPES = ("view", "click", "purchase", "signup", "error",
               "42", "-7", "3.5", "9999999999", "2024-01-05", "true",
               "", "  ")
_EVENT_TYPE_P = np.array([0.28, 0.22, 0.12, 0.1, 0.08,
                          0.03, 0.03, 0.03, 0.03, 0.02, 0.02, 0.02, 0.02])

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


#: one part of events spans 30 days; a few % of user_id, event_type and
#: value are null
HOURS = 720
NULL_FRAC = 0.03


def _with_nulls(rng: np.random.Generator, arr: pa.Array) -> pa.Array:
    mask = rng.random(len(arr)) < NULL_FRAC
    return pa.array(arr.to_numpy(zero_copy_only=False), type=arr.type,
                    mask=mask)


def events(n_rows: int, seed: int, part: int = 0) -> pa.Table:
    """``n_rows`` time-ordered events, the ``part``-th 30 days after
    2024-01-01 (parts follow each other in time). Every ``props`` value
    occurs exactly twice, on two neighbouring events of one part, and is
    never null, so the streaming dedup has a known answer: one row per
    distinct value."""
    rng = np.random.default_rng([seed, part])
    ts = (np.sort(rng.integers(0, HOURS * _HOUR_US, n_rows))
          + T0_US + part * HOURS * _HOUR_US)
    salt = int(rng.integers(0, 1_000_000))
    keys = part * n_rows + np.arange(n_rows) // 2
    props = pa.array([f'{{"k": {k}, "salt": {salt}}}'
                      for k in keys.tolist()])
    etype = rng.choice(len(EVENT_TYPES), n_rows, p=_EVENT_TYPE_P)
    value = np.round(rng.gamma(2.0, 10.0, n_rows), 2)
    user = rng.integers(0, max(n_rows // 20, 1), n_rows)
    return pa.table([
        pa.array(np.arange(n_rows, dtype=np.int64) + part * n_rows),
        pa.array(ts, type=pa.timestamp("us")),
        _with_nulls(rng, pa.array(user)),
        _with_nulls(rng, pa.array(np.array(EVENT_TYPES, dtype=object)[etype])),
        _with_nulls(rng, pa.array(value)),
        props,
    ], schema=EVENTS_SCHEMA)


def write_parts(table: pa.Table, out_dir: str, n_files: int,
                first: int = 0) -> list[str]:
    """Write ``table`` as ``n_files`` parquet files of consecutive row
    ranges (one row group each), numbered from ``first``, and give them
    strictly increasing mtimes in that numbering, so a file stream source
    reads them in row order. Returns the paths."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(out_dir, f"part-{first + i:05d}.parquet")
        pq.write_table(part, path, row_group_size=max(part.num_rows, 1))
        os.utime(path, ns=(1_700_000_000_000_000_000
                           + (first + i) * 10**9,) * 2)
        paths.append(path)
    return paths
