"""Pure helpers of the CDC benchmark: percentiles, the file -> micro-batch
map read from a file-source checkpoint, and the oracle compaction.

Nothing here imports Spark, so the unit tests next to this file run in a
plain interpreter (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import math
import os
import statistics
from collections.abc import Sequence

import numpy as np


def percentile(values: Sequence[float], q: float, min_beyond: int = 10) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    The rank is ``ceil(q * n)``; the samples ranked after it are "beyond"
    the percentile. A percentile read off fewer than ``min_beyond`` such
    samples is mostly noise, so that case raises instead of returning a
    number. ``inf`` entries (failed operations) sort last, so a failure
    counts as missing every latency limit.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    ordered = sorted(values)
    n = len(ordered)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_beyond:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {max(n - rank, 0)} beyond it; "
            f"need at least {min_beyond}"
        )
    return ordered[rank - 1]


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles
    as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def file_batches(checkpoint_dir: str, source_id: int = 0) -> dict[str, int]:
    """Map each input file's base name to the micro-batch that read it.

    Reads the file source's own log under ``<checkpoint>/sources/<id>/``:
    one file per batch (``<batchId>``) plus periodic compactions
    (``<batchId>.compact``), each a ``v1`` header followed by one JSON
    entry per file with its ``path`` and ``batchId``. Reading the log
    costs no Spark action. Names with a leading dot are checksums.
    """
    log_dir = os.path.join(checkpoint_dir, "sources", str(source_id))
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            header = f.readline().strip()
            if header != "v1":
                raise ValueError(f"{name}: unknown file-source log version {header!r}")
            for line in f:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def oracle_compact(
    ids: np.ndarray,
    offsets: np.ndarray,
    deleted: np.ndarray,
    columns: dict[str, np.ndarray] | None = None,
) -> dict[str, np.ndarray]:
    """Latest-per-key compaction of a changelog, deleted keys removed.

    For each key the version with the largest offset wins; a key whose
    winning version is deleted is absent. Returns column arrays ``id``,
    ``offset`` and each of ``columns`` for the live keys, in ascending
    ``id`` order. Independent of the engine: one numpy sort, no Spark.
    """
    ids = np.asarray(ids)
    offsets = np.asarray(offsets)
    order = np.lexsort((offsets, ids))
    s_ids = ids[order]
    last = np.ones(len(s_ids), dtype=bool)
    last[:-1] = s_ids[1:] != s_ids[:-1]
    win = order[last]
    live = win[~np.asarray(deleted)[win]]
    out = {"id": ids[live], "offset": offsets[live]}
    for name, col in (columns or {}).items():
        out[name] = np.asarray(col)[live]
    return out


def table_diff(got: dict[str, np.ndarray], want: dict[str, np.ndarray]) -> str | None:
    """None when both column sets hold the same rows in the same order,
    else a short description of the first difference."""
    if set(got) != set(want):
        return f"columns {sorted(got)} != {sorted(want)}"
    n_got, n_want = len(got["id"]), len(want["id"])
    if n_got != n_want:
        return f"{n_got} rows != {n_want} rows"
    for name in want:
        bad = np.flatnonzero(np.asarray(got[name]) != np.asarray(want[name]))
        if len(bad):
            i = bad[0]
            return (
                f"{len(bad)} rows differ in {name!r}, first at id={want['id'][i]}: "
                f"{got[name][i]!r} != {want[name][i]!r}"
            )
    return None
