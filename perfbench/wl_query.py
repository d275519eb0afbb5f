"""query: one client's read traffic, no writes.

Each round of the rotation sends the eight ``QueryAPI`` request kinds
of ``wl_api`` (query string in -> rendered JSON out: driver-bound
parse, compile, catalog and py4j over small scans) and runs the three
registered data-prep queries of ``wl_dataprep`` (materialized to a
``noop`` sink: executor-bound, shuffle-heavy dedup and the byte
histogram), interleaved. Every output is checked the way those modules
check it: API responses against answers computed here with pandas,
data-prep results against DuckDB ``oracle_sql()`` once per run, in the
first (warm) round.
"""

from __future__ import annotations

import wl_api
import wl_dataprep
from workload import Workload

# One round: (family, index into that family's own rotation). Its ops
# fall into four latency tiers: labels (~0.1 s); label values, series,
# log series and the exemplar (0.2-0.4 s); range, instant, the LogQL
# aggregate and dd2 (0.4-0.9 s); dd10 and mm1 (1.5-2.5 s). With 1 + 4
# ops below the third tier and 2 above it, the median of whole rounds
# always lies inside the third tier, never across the gap below it.
ROUND = (
    ("api", 0),   # range
    ("prep", 0),  # dd10_dedup_pipeline
    ("api", 1),   # instant
    ("api", 2),   # logs_agg
    ("prep", 1),  # dd2_minhash_lsh
    ("api", 3),   # exemplar
    ("api", 4),   # labels
    ("prep", 2),  # mm1_byte_histogram
    ("api", 5),   # label_values
    ("api", 6),   # series
    ("api", 7),   # logs_series
)
PER_ROUND = {
    "api": sum(f == "api" for f, _ in ROUND),
    "prep": sum(f == "prep" for f, _ in ROUND),
}
assert PER_ROUND == {"api": len(wl_api.KINDS), "prep": len(wl_dataprep.ROTATION)}


def slot(i: int) -> tuple[str, int]:
    """Op ``i`` -> (family, op index within that family's own sequence)."""
    family, k = ROUND[i % len(ROUND)]
    return family, (i // len(ROUND)) * PER_ROUND[family] + k


class Query(Workload):
    name = "query"
    # the cold round (which is also the data-prep oracle check) and one
    # more; the timed phase is then three rounds, 33 ops
    warm_ops = 2 * len(ROUND)
    ops_per_second = 1.65

    def __init__(self) -> None:
        self.fams = {"api": wl_api.QueryApi(), "prep": wl_dataprep.DataPrep()}
        self.outer: dict[tuple[str, int], int] = {}

    def inputs(self, work: str, seed: int, n_ops: int, digest) -> None:
        rounds = -(-n_ops // len(ROUND))
        for family, wl in self.fams.items():
            wl.inputs(work, seed, rounds * PER_ROUND[family], digest)

    def prepare(self, ctx) -> None:
        for wl in self.fams.values():
            wl.prepare(ctx)

    def op(self, i: int, ctx) -> tuple[bool, int]:
        family, j = slot(i)
        self.outer[(family, j)] = i
        return self.fams[family].op(j, ctx)

    def kind(self, i: int) -> str:
        family, j = slot(i)
        return f"{family}:{self.fams[family].kind(j)}"

    def finish(self, ctx) -> set[int]:
        return {self.outer[("prep", j)] for j in self.fams["prep"].finish(ctx)}
