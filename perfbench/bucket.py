"""bucket: the bucket's store under both of its clients at once. Each round
runs one ``bucket_crud`` round (a lookup, a query, an update and an append
through ``CrudService``) and then one ``stream_enrich`` round (a staged
file replayed as one micro-batch through the enrichment pipeline into its
append and merge sinks).

The two run as one workload so that one Spark session, one set-up and one
window serve both, which keeps a full two-set comparison of the benchmark
within its time limit; each part keeps its own inputs, model and checks.
"""

from __future__ import annotations

from perfbench.bucket_crud import BucketCrud
from perfbench.harness import SparkRun, Tracer, Workload
from perfbench.stream_enrich import StreamEnrich


class Bucket(Workload):
    name = "bucket"

    def __init__(self, run: SparkRun, seed: int, tracer: Tracer):
        self.run = run
        self.spark = run.spark
        self.seed = seed
        self.tr = tracer
        self.parts = (BucketCrud(run, seed, tracer), StreamEnrich(run, seed, tracer))
        self.setup_phases: dict[str, float] = {}

    # -- state shared with the parts, as run.py sees it ----------------------
    @property
    def timed(self) -> bool:
        return self.parts[0].timed

    @timed.setter
    def timed(self, value: bool) -> None:
        for p in self.parts:
            p.timed = value

    @property
    def window(self) -> tuple[float, float]:
        return self.parts[0].window

    @window.setter
    def window(self, value: tuple[float, float]) -> None:
        for p in self.parts:
            p.window = value

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.parts)

    @property
    def lat_ms(self) -> dict[str, list[float]]:
        return {k: v for p in self.parts for k, v in p.lat_ms.items()}

    # -- the workload ----------------------------------------------------------
    def setup(self) -> None:
        for p in self.parts:
            p.setup()
            self.setup_phases |= {f"{p.name}.{k}": v for k, v in p.setup_phases.items()}

    def start_window(self) -> None:
        for p in self.parts:
            p.start_window()

    def stop_window(self) -> None:
        for p in self.parts:
            p.stop_window()

    def round(self) -> None:
        for p in self.parts:
            p.round()

    def check(self) -> list[str]:
        return [e for p in self.parts for e in p.check()]

    def op_samples(self) -> dict[str, list[float]]:
        return {k: v for p in self.parts for k, v in p.op_samples().items()}

    def e2e_detail(self) -> dict:
        return {k: v for p in self.parts for k, v in p.e2e_detail().items()}

    def layer_detail(self, events: dict) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_detail(events).items()}
