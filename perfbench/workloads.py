"""The benchmark's workloads: which catalog queries run, on which data, in
which order. README.md says why each was chosen.

One driver process runs one query at a time (a single client in a closed
loop). A run is a number of passes over the workload's queries:

* in family (catalog) order, each query ``repeats`` times back to back, so
  the repeats of a query hit its family's shared leaves;
* ``adhoc``: in an order shuffled by the run's seed such that no query
  follows a query of its own family. Every execution then crosses a family
  boundary, so the engine releases the previous family's shared leaves and
  the query rebuilds its own.

The seed only sets the ``adhoc`` order; it never changes the data.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    #: Query names grouped by family (the catalog module whose queries
    #: share leaves), in catalog order.
    families: tuple[tuple[str, ...], ...]
    #: The tables those queries read; set-up warms exactly these.
    tables: tuple[str, ...]
    repeats: int = 1
    passes: int = 1
    adhoc: bool = False

    @property
    def queries(self) -> list[str]:
        return [q for family in self.families for q in family]

    def _family(self, query: str) -> int:
        return next(i for i, f in enumerate(self.families) if query in f)

    def order(self, rng: random.Random, previous: str | None, repeats: int) -> list[str]:
        """One pass. ``previous`` is the query run last, if any."""
        if not self.adhoc:
            return [q for q in self.queries for _ in range(repeats)]
        while True:
            order = self.queries
            rng.shuffle(order)
            runs = [previous, *order] if previous else order
            if all(self._family(a) != self._family(b) for a, b in zip(runs, runs[1:])):
                return order


#: sf0.1: two driver-bound families, each with a collect-per-round driver
#: loop (connected components; the BPE merge chain).
SF01_FAMILIES = (("cluster_size_histogram",), ("bpe_merge_curve",))

WORKLOADS = {
    w.name: w
    for w in (
        Workload("pipeline_sf0.1", "0.1", SF01_FAMILIES, ("documents",), repeats=4),
        Workload("adhoc_sf0.1", "0.1", SF01_FAMILIES, ("documents",), passes=2, adhoc=True),
        Workload(
            "scale_sf1",
            "1",
            (("pmi_word_pairs",), ("tpch_q1_pricing_summary",), ("pack_sequences_2048",)),
            ("lineitem", "documents"),
            repeats=2,
        ),
    )
}
