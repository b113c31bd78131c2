"""The benchmark's workloads: named lists of catalog queries and the
data scale they run on.

Each workload is one client in a closed loop: queries run one at a
time, back to back. The seed only permutes the query order of each
pass; the data and the query list never change with it.

The lists are sized so that setup, a cold pass, three or four warm
passes and the output check of one run fit in about 60 s on a 4-core
box, because the benchmark is run 22 times per workload in one
sitting. Sub-second queries are left out: on a box with a few percent
of CPU steal their latency drifts by a fifth between runs minutes
apart, wider than any useful regression bound.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # data directory name under the benchmark's data root
    queries: tuple[str, ...]


# A search and a solver loop: many small Spark jobs from the driver.
DRIVER_LOOPS = (
    "incremental_search_best",   # SuccessiveHalvingSearchCV.fit, mapInPandas training
    "poisson_newton_fit",        # fit_glm -> newton (IRLS)
)

# Execution-bound at sf1: a TPC-H Q21-shaped aggregate, left-semi join
# and window over 6 M lineitem rows, all in the JVM (scan and shuffle).
DATA_BOUND = (
    "sole_supplier_orders",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("driver_loops_sf0.1", "sf0.1", DRIVER_LOOPS),
        Workload("data_bound_sf1", "sf1", DATA_BOUND),
    )
}


def pass_orders(workload: Workload, seed: int):
    """Yield the query order of pass 0, 1, 2, ... for ``seed``."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(workload.queries, len(workload.queries))
