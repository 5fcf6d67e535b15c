"""data_plane: one frontier_bulk cycle, then the curation_corpus operator list.

The two bulk parts share one run: each alone costs a full Spark start and
warm-up, and a run holds one pass of each.  Their spans stay separate
(scheduler.*, frontier.*, tables.commit against dedup.*, similarity.*,
text.*).
"""

from __future__ import annotations

import curation_corpus
import frontier_bulk

PAIR_SPANS = curation_corpus.PAIR_SPANS


class Workload:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.parts = [m.Workload(spark, tracer, work_dir, seed) for m in (frontier_bulk, curation_corpus)]

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def warm(self) -> None:
        for p in self.parts:
            p.warm()

    def run_pass(self) -> int:
        return sum(p.run_pass() for p in self.parts)

    def after_pass(self) -> None:
        for p in self.parts:
            p.after_pass()

    def check(self) -> dict[str, bool]:
        return {k: v for p in self.parts for k, v in p.check().items()}

    def extras(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.extras().items()}

    def close(self) -> None:
        for p in self.parts:
            p.close()
