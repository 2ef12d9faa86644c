"""Enrichment pipeline — the reference's dataflow "relational algebra"
re-expressed on mapInPandas / applyInPandas.

The reference pipeline element (EnrichmentControlMetadataBean: name,
dependencies, grouping_fields, entry_point, config) chains
IEnrichmentBatchModule stages with lifecycle onStageInitialize /
onObjectBatch / onStageComplete, run in micro-batches of ~100 records
(reference EnrichmentPipelineService.java:169,323-343,687-823), with
grouping via an MR-style shuffle (BatchEnrichmentJob.java:499-664) and a
DAG builder handling dependencies / $inputs / unions / terminal-emit
(RddDependencyUtils.buildEnrichmentPipeline:60-198).

Spark-native mapping (SURVEY §2.4):
- P1 batch map stage      → mapInPandas; the Arrow batch IS the object batch
  (spark.sql.execution.arrow.maxRecordsPerBatch replaces batch_size).
- P2 chaining             → composed DataFrame transformations — Catalyst
  fuses adjacent narrow stages into one whole-stage-codegen pipeline, so a
  chain of maps costs one pass, unlike the reference's per-stage loops.
- P3/P4/P5 group + per-key module → groupBy(keys).applyInPandas (module
  clone-per-group ≈ one pandas group per call).
- P6 combiner             → native partial aggregation for SQL aggs; for
  module reducers we expose an optional combine stage that runs the module
  map-side via mapInPandas before the shuffle.
- P7 DAG                  → topological order over `dependencies`; `$inputs`
  = unionByName of all inputs; multi-dependency = union.
- P9 sampling, P10 SQL stage, P11 passthrough, P12 terminal-emit,
  P13 per-stage statistics via observe().

At 100 TB: ungrouped stages are narrow (no shuffle); each grouped stage is
exactly one shuffle on its grouping key — same as the reference's MR jobs,
but with AQE coalescing/skew-split and Arrow batching instead of
per-100-record Java loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class EnrichmentModule:
    """Python analogue of IEnrichmentBatchModule (the primary extension API,
    SURVEY U1). Subclass and override; batches arrive as pandas DataFrames
    (Arrow-decoded), return an iterable of pandas DataFrames.

    Lifecycle inside one task: on_stage_initialize once, on_object_batch per
    Arrow batch, on_stage_complete once (emitted output is appended).
    For grouped stages the module is cloned per group
    (clone_for_new_grouping ≈ reference cloneForNewGrouping,
    EnrichmentPipelineService.java:637-675) and receives the grouping key.
    """

    def __init__(self, config: dict[str, Any] | None = None):
        self.config = config or {}

    def clone_for_new_grouping(self) -> "EnrichmentModule":
        return type(self)(self.config)

    def validate_module(self, stage: "Stage") -> list[str]:
        """Pre-flight validation (reference IEnrichmentBatchModule
        .validateModule): return a list of error strings; non-empty fails
        the pipeline BEFORE any executor work starts."""
        return []

    def on_stage_initialize(self, grouping_key: dict | None = None) -> None:  # noqa: B027
        pass

    def on_object_batch(self, batch: pd.DataFrame) -> pd.DataFrame | None:
        raise NotImplementedError

    def on_stage_complete(self) -> pd.DataFrame | None:  # noqa: B027
        return None


class PassthroughModule(EnrichmentModule):
    """P11: identity stage (reference PassthroughService)."""

    def on_object_batch(self, batch: pd.DataFrame) -> pd.DataFrame:
        return batch


@dataclass
class Stage:
    """One pipeline element. Exactly one of module/sql/transform is set.

    - module + no grouping_fields → mapInPandas batch stage (P1)
    - module + grouping_fields    → applyInPandas post-group stage (P3-P5);
      grouping_fields are dot-notation paths; the special value "?" means the
      module emits a `grouping_key` column in a pre-group map stage (P3).
    - sql                         → spark.sql over registered stage views (P10)
    - transform                   → arbitrary DataFrame→DataFrame python
    """

    name: str
    dependencies: Sequence[str] = ("$inputs",)
    module: EnrichmentModule | None = None
    grouping_fields: Sequence[str] = ()
    output_schema: Any = None  # StructType or DDL string; None = unchanged
    sql: str | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None
    sample_fraction: float | None = None  # P9
    test_record_limit: int | None = None  # S6
    # P6 combiner (reference BatchEnrichmentJob.BatchEnrichmentBaseCombiner
    # :762-782): a module run MAP-SIDE per (partition, key-group) before the
    # shuffle, re-emitting keyed partial records with the same schema the
    # reduce module consumes (combine_schema; defaults to the input schema).
    # The shuffle then moves partials, not raw records.
    combine_module: EnrichmentModule | None = None
    combine_schema: Any = None


@dataclass
class Pipeline:
    """P7 DAG builder + executor."""

    stages: list[Stage] = field(default_factory=list)
    observations: dict[str, Any] = field(default_factory=dict, repr=False)

    def add(self, stage: Stage) -> "Pipeline":
        self.stages.append(stage)
        return self

    def stage_stats(self) -> dict[str, dict]:
        """P13 per-stage statistics: available after an action on a run with
        observe_stats=True (reference logs per-stage in/out counts,
        EnrichmentPipelineService.java:729-787)."""
        return {name: obs.get for name, obs in self.observations.items()}

    # ------------------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        inputs: dict[str, DataFrame],
        observe_stats: bool = False,
    ) -> dict[str, DataFrame]:
        """Execute the DAG; returns {stage_name: DataFrame} for terminal
        stages only (P12 — intermediate stages are transient)."""
        terminals = self.terminals()
        return {n: df for n, df in self.resolve(spark, inputs, observe_stats).items() if n in terminals}

    def terminals(self) -> set[str]:
        """P12: the stages nothing depends on — the ones ``run`` emits."""
        depended_on = {d for s in self.stages for d in s.dependencies}
        return {s.name for s in self.stages if s.name not in depended_on}

    def resolve(
        self,
        spark: SparkSession,
        inputs: dict[str, DataFrame],
        observe_stats: bool = False,
    ) -> dict[str, DataFrame]:
        """Every stage's output DataFrame, in topological order (each
        stage after the stages it reads)."""
        errors = []
        for st in self.stages:
            for m in (st.module, st.combine_module):
                if m is not None:
                    errors += [f"{st.name}: {e}" for e in m.validate_module(st)]
        if errors:
            raise ValueError("module validation failed: " + "; ".join(errors))
        union_all = None
        if inputs:
            dfs = list(inputs.values())
            union_all = dfs[0]
            for d in dfs[1:]:
                union_all = union_all.unionByName(d, allowMissingColumns=True)

        resolved: dict[str, DataFrame] = {}
        remaining = list(self.stages)
        # topological resolution (stage deps may reference stages or inputs)
        progress = True
        while remaining and progress:
            progress = False
            for st in list(remaining):
                deps_ready = all(
                    d == "$inputs" or d in resolved or d in inputs for d in st.dependencies
                )
                if not deps_ready:
                    continue
                dep_dfs: list[DataFrame] = []
                for d in st.dependencies:
                    if d == "$inputs":
                        if union_all is not None:
                            dep_dfs.append(union_all)
                    elif d in resolved:
                        dep_dfs.append(resolved[d])
                    else:
                        dep_dfs.append(inputs[d])
                if dep_dfs:
                    cur = dep_dfs[0]
                    for d in dep_dfs[1:]:  # P8 multi-input union
                        cur = cur.unionByName(d, allowMissingColumns=True)
                else:
                    cur = union_all
                resolved[st.name] = self._apply_stage(spark, st, cur, resolved, observe_stats)
                remaining.remove(st)
                progress = True
        if remaining:
            raise ValueError(
                f"pipeline has unresolvable dependencies: {[s.name for s in remaining]}"
            )
        return resolved

    # ------------------------------------------------------------------
    def _apply_stage(
        self,
        spark: SparkSession,
        st: Stage,
        cur: DataFrame,
        resolved: dict[str, DataFrame],
        observe_stats: bool,
    ) -> DataFrame:
        if st.test_record_limit is not None:
            cur = cur.limit(st.test_record_limit)
        if st.sample_fraction is not None:
            cur = cur.sample(fraction=st.sample_fraction, seed=42)

        if st.sql is not None:
            # P10: register every resolved stage + make `$inputs` available
            # as view `inputs`; then arbitrary Spark SQL. Views are bound to
            # the DataFrames' own session (inside foreachBatch the micro-
            # batch session differs from the driver session).
            sql_session = cur.sparkSession if cur is not None else spark
            for n, d in resolved.items():
                d.createOrReplaceTempView(n)
            if cur is not None:
                cur.createOrReplaceTempView("inputs")
            out = sql_session.sql(st.sql)
        elif st.transform is not None:
            out = st.transform(cur)
        elif st.module is not None and st.grouping_fields:
            out = self._grouped_module(st, cur)
        elif st.module is not None:
            out = self._map_module(st, cur)
        else:
            out = cur  # passthrough

        if observe_stats:
            from pyspark.sql import Observation

            obs = Observation(f"stage_{st.name}")
            self.observations[st.name] = obs
            out = out.observe(obs, F.count(F.lit(1)).alias("out_count"))
        return out

    @staticmethod
    def _map_module(st: Stage, cur: DataFrame) -> DataFrame:
        module = st.module
        schema = st.output_schema or cur.schema

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            m = module.clone_for_new_grouping()
            m.on_stage_initialize(None)
            for b in batches:
                out = m.on_object_batch(b)
                if out is not None and len(out):
                    yield out
            tail = m.on_stage_complete()
            if tail is not None and len(tail):
                yield tail

        return cur.mapInPandas(run, schema=schema)

    @staticmethod
    def _grouped_module(st: Stage, cur: DataFrame) -> DataFrame:
        module = st.module
        if st.combine_module is not None:
            cur = Pipeline._combine_map_side(st, cur)
        schema = st.output_schema or cur.schema
        keys = list(st.grouping_fields)
        if keys == ["?"]:
            # P3 "?" = a prior map stage computed an explicit grouping_key col
            key_cols = ["grouping_key"]
        else:
            # dot-notation paths become struct-field key columns
            key_cols = []
            flat = cur
            for i, k in enumerate(keys):
                kc = f"__gk{i}"
                flat = flat.withColumn(kc, F.col(k))
                key_cols.append(kc)
            cur = flat

        def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            m = module.clone_for_new_grouping()
            gk = dict(zip(keys if keys != ["?"] else ["grouping_key"], key))
            m.on_stage_initialize(gk)
            parts = []
            out = m.on_object_batch(pdf.drop(columns=[c for c in pdf.columns if c.startswith("__gk")]))
            if out is not None and len(out):
                parts.append(out)
            tail = m.on_stage_complete()
            if tail is not None and len(tail):
                parts.append(tail)
            if not parts:
                return pd.DataFrame(columns=[f.name for f in schema.fields] if hasattr(schema, "fields") else [])
            return pd.concat(parts, ignore_index=True)

        return cur.groupBy(*key_cols).applyInPandas(run, schema=schema)

    @staticmethod
    def _combine_map_side(st: Stage, cur: DataFrame) -> DataFrame:
        """P6: run the combiner per (Arrow batch, key group) before the
        shuffle. Like the MR combiner it is an optimization contract: it must
        emit records the reduce module accepts, keyed by the same
        grouping_fields, so the shuffle carries partials instead of rows."""
        combiner = st.combine_module
        schema = st.combine_schema or cur.schema
        keys = [k for k in st.grouping_fields if k != "?"] or ["grouping_key"]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if not len(b):
                    continue
                outs = []
                for _, grp in b.groupby(keys, sort=False, dropna=False):
                    m = combiner.clone_for_new_grouping()
                    m.on_stage_initialize(None)
                    out = m.on_object_batch(grp)
                    if out is not None and len(out):
                        outs.append(out)
                    tail = m.on_stage_complete()
                    if tail is not None and len(tail):
                        outs.append(tail)
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return cur.mapInPandas(run, schema=schema)
