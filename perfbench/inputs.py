"""Seeded benchmark inputs.

``stage_part`` writes the one parquet table the closed loop's query
reads, ``part`` (schema as in FIXTURES.md).  Its *content* comes from a
fixed content seed, so the query's result is the same for every
benchmark seed.  The benchmark seed drives the *layout*: the rows are
permuted and written in several row groups, so the row-to-row-group
assignment differs per seed.

``EventGenerator`` is the open-loop load generator: reference-shaped JSON
events (``{"uid", "ts"}``) with Pareto-skewed users, written atomically
into a watched directory on a fixed schedule.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Content seed: the table's values never depend on the benchmark seed.
CONTENT_SEED = 42
ROW_GROUPS = 8

_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def make_part(sf: float) -> pa.Table:
    """The ``part`` table at scale factor ``sf``: 200,000 x sf rows (at
    least 200), names drawn uniformly from 64 "adjective noun" pairs and
    brands from 25, as in the repository's test data.  README.md compares
    the two."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = max(200, int(200_000 * sf))
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, len(types), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
    })


def stage_part(out_dir: str, sf: float, seed: int) -> int:
    """Write ``<out_dir>/part.parquet``, its rows permuted by ``seed`` and
    split into ``ROW_GROUPS`` row groups.  Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    table = make_part(sf)
    n = table.num_rows
    table = table.take(pa.array(np.random.default_rng(seed).permutation(n)))
    pq.write_table(table, os.path.join(out_dir, "part.parquet"),
                   row_group_size=math.ceil(n / ROW_GROUPS))
    return n


class EventGenerator(threading.Thread):
    """Writes ``files_per_s`` JSON-lines files per second into ``watch_dir``
    on a fixed schedule: the ``k``-th scheduled file is due at
    ``start_at + k / files_per_s``, however far behind the engine is.
    Each file holds ``events_per_file`` events whose ``ts`` is the file's
    due second; users are drawn from a Pareto-skewed population.  A file is written under a hidden name and
    renamed into place, so the source never sees a partial file.
    ``write_next`` writes one file off-schedule (a warm-up file, before
    the thread starts).

    ``due[i]`` is file ``i``'s due time (``time.time()`` clock),
    ``late[i]`` how late its rename happened, and ``tally`` the exact
    distinct users per one-minute window start over everything written.
    """

    def __init__(self, watch_dir: str, seed: int, files_per_s: float,
                 events_per_file: int, users: int = 50_000):
        super().__init__(name="perfbench-generator", daemon=True)
        self.watch_dir = watch_dir
        self.files_per_s = files_per_s
        self.events_per_file = events_per_file
        self.rng = np.random.default_rng(seed)
        self.uids = [f"{int(h):019x}" for h in
                     self.rng.integers(2**60, 2**63 - 1, users)]
        self.due: list[float] = []
        self.late: list[float] = []
        self.tally: dict[int, set[str]] = defaultdict(set)
        self.start_at = 0.0
        self.scheduled_from = 0
        self._stop_evt = threading.Event()
        self.error: Exception | None = None

    def _user_indices(self) -> np.ndarray:
        # Pareto (Lomax) ranks: a few heavy users, a long tail.
        ranks = self.rng.pareto(1.2, self.events_per_file)
        return np.minimum(ranks * 50, len(self.uids) - 1).astype(np.int64)

    def run(self) -> None:
        try:
            self._run()
        except Exception as exc:  # surfaced by the caller after join()
            self.error = exc

    def start(self) -> None:
        self.start_at = time.time() + 0.2
        self.scheduled_from = len(self.due)
        super().start()

    def _run(self) -> None:
        k = 0
        while not self._stop_evt.is_set():
            due = self.start_at + k / self.files_per_s
            wait = due - time.time()
            if wait > 0 and self._stop_evt.wait(wait):
                break
            self.write_next(due)
            k += 1

    def write_next(self, due: float) -> None:
        """Write the next file, stamped with ``due``'s second."""
        os.makedirs(self.watch_dir, exist_ok=True)
        ts = int(due)
        users = [self.uids[k] for k in self._user_indices()]
        self.tally[ts - ts % 60].update(users)
        body = "".join(json.dumps({"uid": u, "ts": ts}) + "\n"
                       for u in users)
        name = f"part-{len(self.due):06d}.json"
        tmp = os.path.join(self.watch_dir, "." + name)
        with open(tmp, "w") as fh:
            fh.write(body)
        os.rename(tmp, os.path.join(self.watch_dir, name))
        self.due.append(due)
        self.late.append(time.time() - due)

    def stop(self) -> None:
        self._stop_evt.set()
