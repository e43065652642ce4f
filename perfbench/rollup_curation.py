"""rollup_curation: the sketch rollup and the curation pipeline, one after
the other in each cycle over their own seeded inputs.

Neither part enters ``spark.build`` or the filter kernels, so a filter
change predicts no change here; ``filter_index`` in turn never enters
``sketches``, ``spark.merge``, ``spark.sketch_store`` or ``ops``.
"""

from __future__ import annotations

from perfbench.curation import Curation
from perfbench.sketch_rollup import SketchRollup


class RollupCuration:
    def __init__(self, spark, seed: int, scale: float, workdir: str) -> None:
        self.rollup = SketchRollup(spark, seed, scale, workdir)
        self.curation = Curation(spark, seed, scale, workdir)
        self.parts = (self.rollup, self.curation)

    def prepare(self) -> dict:
        return {"events": self.rollup.prepare(), "pages": self.curation.prepare()}

    def ops(self) -> list:
        return [op for p in self.parts for op in p.ops()]

    def final_checks(self) -> list[str]:
        return []  # every check runs on each op's result

    def detail(self, rates: dict) -> dict:
        return {k: v for p in self.parts for k, v in p.detail(rates).items()}

    def layer_metrics(self, spans: list[dict]) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics(spans).items()}

    def traced_extras(self, tracer) -> None:
        self.curation.traced_extras(tracer)
