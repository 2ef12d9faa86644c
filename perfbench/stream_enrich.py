"""stream_enrich: staged JSON files replayed through
``StreamingPipelineRunner`` one file per micro-batch
(``json_file_stream(max_files_per_trigger=1)``, ``availableNow``).

The pipeline: a ``mapInPandas`` enrichment module, a SQL group-by stage
and a pass-through stage, ending in two ``transactional_sink``s: the
pass-through rows append to one table, the per-key aggregate merges into
a keyed table. Each round stages a fixed number of new files and runs the
query over them from the same checkpoint.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from aleph2_contrib_spark.plans.pipeline import EnrichmentModule, Pipeline, Stage
from aleph2_contrib_spark.sources.txlog import TransactionalTable
from aleph2_contrib_spark.streaming.runner import (
    StreamingPipelineRunner,
    json_file_stream,
    transactional_sink,
)
from perfbench.harness import Workload, median
from perfbench.reference import enrich_score, last_batch_wins

ROWS_PER_FILE = 2_000
FILES_PER_ROUND = 1
WARMUP_FILES = 1
KEYS = 2_000  # Zipf-like: some keys miss any given batch
INPUT_SCHEMA = "id LONG, key INT, a LONG, b LONG"
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")
AGG_SQL = (
    "SELECT key, COUNT(*) AS n, SUM(score) AS score_sum, MAX(id) AS last_id "
    "FROM enrich GROUP BY key"
)


class ScoreModule(EnrichmentModule):
    """Adds ``score`` and counts the rows and time it spends, through two
    accumulators passed in the config."""

    def on_object_batch(self, batch: pd.DataFrame) -> pd.DataFrame:
        t = time.perf_counter()
        out = batch.assign(score=enrich_score(batch["a"].to_numpy(), batch["b"].to_numpy()))
        self.config["rows"].add(len(batch))
        self.config["ms"].add(1000 * (time.perf_counter() - t))
        return out


class StreamEnrich(Workload):
    name = "stream_enrich"

    def setup(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        base = os.path.join(self.run.work, "stream")
        self.inbox = os.path.join(base, "inbox")
        os.makedirs(self.inbox)
        self.rows_table = TransactionalTable(self.spark, os.path.join(base, "rows"))
        self.keyed_table = TransactionalTable(
            self.spark, os.path.join(base, "keyed"), stats_cols=["key"]
        )
        sinks = {
            "rows": ("sink.append", transactional_sink(self.rows_table, "perfbench")),
            "agg": ("sink.merge", transactional_sink(self.keyed_table, "perfbench", merge_keys=["key"])),
        }

        def route(stage: str, df, batch_id: int) -> None:
            span, sink = sinks[stage]
            with self.tr.span(span):
                sink(stage, df, batch_id)

        sc = self.spark.sparkContext
        self.acc_rows, self.acc_ms = sc.accumulator(0), sc.accumulator(0.0)
        pipeline = Pipeline(
            [
                Stage(
                    "enrich",
                    module=ScoreModule({"rows": self.acc_rows, "ms": self.acc_ms}),
                    output_schema=INPUT_SCHEMA + ", score LONG",
                ),
                Stage("agg", dependencies=("enrich",), sql=AGG_SQL),
                Stage("rows", dependencies=("enrich",)),
            ]
        )
        self.runner = StreamingPipelineRunner(pipeline, route, os.path.join(base, "checkpoint"))
        self.stream = json_file_stream(
            self.spark, self.inbox, INPUT_SCHEMA, max_files_per_trigger=1
        )
        keys_p = 1.0 / np.arange(1, KEYS + 1)
        self.keys_p = keys_p / keys_p.sum()
        self.files: list[pd.DataFrame] = []  # every staged file, in batch order
        self.mtime0 = time.time()
        self.progress: list[dict] = []  # timed non-empty batches
        self.round_rows: list[int] = []
        self.errors: list[str] = []
        with self.phase("warmup"):
            self._run_query(WARMUP_FILES)  # untimed

    def _stage(self, n_files: int) -> int:
        rows = 0
        for _ in range(n_files):
            i, n = len(self.files), ROWS_PER_FILE
            pdf = pd.DataFrame(
                {
                    "id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                    "key": self.rng.choice(KEYS, size=n, p=self.keys_p).astype(np.int32),
                    "a": self.rng.integers(0, 10**6, n),
                    "b": self.rng.integers(0, 10**6, n),
                }
            )
            path = os.path.join(self.inbox, f"batch-{i:06d}.json")
            pdf.to_json(path + ".tmp", orient="records", lines=True)
            os.rename(path + ".tmp", path)
            # strictly increasing mtimes: the file source takes them in order
            os.utime(path, (self.mtime0 + i, self.mtime0 + i))
            self.files.append(pdf)
            rows += n
        return rows

    def _run_query(self, n_files: int) -> None:
        rows = self._stage(n_files)

        def run():
            q = self.runner.start(self.stream)
            if self.tr.enabled:
                self.tr.groups[str(q.runId)] = self.tr.spans[-1]["id"]
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        q = self.op("stream.run", run, n=n_files)
        if q is None:
            return
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(batches) != n_files:
            self.errors.append(f"{n_files} staged files ran as {len(batches)} non-empty batches")
        if self.timed:
            self.progress += [dict(p, runId=str(q.runId)) for p in batches]
            self.round_rows.append(rows)
        if self.tr.enabled and self.timed:
            with self.tr.span("txlog.sink_snapshot"):
                self.rows_table.snapshot()

    def start_window(self) -> None:
        self.acc0 = (self.acc_rows.value, self.acc_ms.value)

    def round(self) -> None:
        self._run_query(FILES_PER_ROUND)

    def stop_window(self) -> None:
        self.acc1 = (self.acc_rows.value, self.acc_ms.value)

    # -- results -----------------------------------------------------------
    def check(self) -> list[str]:
        errors = list(self.errors)
        staged = pd.concat(self.files, ignore_index=True)
        got = self.rows_table.read().select("id", "a", "b", "score").toPandas()
        n_ids = got["id"].nunique()
        if not (len(got) == n_ids == len(staged)):
            errors.append(f"append table: {len(got)} rows, {n_ids} ids, {len(staged)} staged")
        merged = staged.merge(got, on="id", suffixes=("", "_t"), how="left")
        if merged["score"].isna().any() or not (merged["a"] == merged["a_t"]).all():
            errors.append("append table is missing staged rows or altered them")
        elif not np.array_equal(
            merged["score"].to_numpy(np.int64), enrich_score(staged["a"], staged["b"])
        ):
            errors.append("enrichment column differs from the numpy recomputation")
        keyed = self.keyed_table.read().toPandas()
        if keyed["key"].duplicated().any():
            errors.append("keyed table holds a key twice")
        got_k = {
            int(k): (int(n), int(s), int(i))
            for k, n, s, i in keyed[["key", "n", "score_sum", "last_id"]].itertuples(
                index=False, name=None
            )
        }
        if got_k != last_batch_wins(self.files):
            errors.append("keyed table differs from last-batch-wins over the staged files")
        return errors

    def op_samples(self) -> dict:
        """One kind: the micro-batch (``triggerExecution``)."""
        return {"batch": [p["durationMs"]["triggerExecution"] for p in self.progress]}

    def e2e_detail(self) -> dict:
        run_s = sum(self.lat_ms["stream.run"]) / 1000
        return {
            "stream_rows_per_s": (sum(self.round_rows) / run_s, "rows/s"),
            "batch_p50_ms": (
                median([p["durationMs"]["triggerExecution"] for p in self.progress]),
                "ms",
            ),
        }

    def layer_detail(self, events: dict) -> dict:
        n_batches = len(self.progress)
        rows_in = n_batches * ROWS_PER_FILE
        out = {
            "pipeline.module_rows_per_input_row": ((self.acc1[0] - self.acc0[0]) / rows_in, "ratio"),
            "pipeline.module_ms_per_batch": ((self.acc1[1] - self.acc0[1]) / n_batches, "ms"),
        }
        for ph in PHASES:
            out[f"stream.{ph}_ms"] = (
                median([p["durationMs"].get(ph, 0) for p in self.progress]),
                "ms",
            )
        out["sink.append_ms"] = (median(self.span_ms("sink.append")), "ms")
        out["sink.merge_ms"] = (median(self.span_ms("sink.merge")), "ms")
        out["stream.jobs_per_batch"] = (
            median([events["batches"].get((p["runId"], str(p["batchId"])), 0) for p in self.progress]),
            "count",
        )
        out["txlog.sink_snapshot_ms"] = (median(self.span_ms("txlog.sink_snapshot")), "ms")
        return out
