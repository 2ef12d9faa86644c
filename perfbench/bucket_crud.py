"""bucket_crud: one closed-loop client issuing an interleaved mix of seeded
reads and writes through ``CrudService`` over a day-partitioned
``TransactionalTable`` (zone maps on ``seq``, Bloom filter on ``_id``).

Every write is applied to a pandas model of the table as well, and every
read is compared with the model as it happens.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aleph2_contrib_spark.functions.query import Q, compile_query
from aleph2_contrib_spark.functions.update import U
from aleph2_contrib_spark.operators.crud import CrudService
from aleph2_contrib_spark.sources.txlog import TransactionalTable
from perfbench.harness import Workload, median
from perfbench.reference import CrudModel

DAYS = 8
ROWS = 200_000  # loaded in DAYS daily appends of ROWS // DAYS
VALUE_RANGE = 10_000
QUERY_WIDTH = 100  # value range per query: ~1% of one day's rows
UPDATE_SPAN = 200  # consecutive seq values per update
APPEND_ROWS = 50
# A fixed order (keys and ranges are seeded): lookups scan every active
# file and each append adds files, so a seed-dependent order would shift
# the lookup median with the seed. One round is short (~2.5 s), so the
# number of rounds in a window varies little.
ROUND = ("lookup", "query", "update", "append")

SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def _rows(ids, day, seq, value) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "_id": ids,
            "day": np.asarray(day, dtype=np.int32),
            "seq": np.asarray(seq, dtype=np.int64),
            "value": np.asarray(value, dtype=np.int64),
            "cnt": np.zeros(n, dtype=np.int64),
        }
    )


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def _user_bytes(rows: pd.DataFrame) -> int:
    return len(rows.to_json(orient="records", lines=True))


class BucketCrud(Workload):
    name = "bucket_crud"

    def setup(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        per_day = ROWS // DAYS
        seq = np.arange(ROWS)
        ids = np.char.add("r", np.char.zfill(self.rng.permutation(ROWS).astype(str), 8))
        rows = _rows(ids, seq // per_day, seq, self.rng.integers(0, VALUE_RANGE, ROWS))
        self.table = TransactionalTable(
            self.spark,
            os.path.join(self.run.work, "bucket"),
            partition_cols=["day"],
            stats_cols=["seq"],
            bloom_cols=["_id"],
        )
        self.svc = CrudService(self.spark, table=self.table)
        with self.phase("load"):
            for d in range(DAYS):
                day_rows = rows[rows["day"] == d]
                self.svc.store_objects(self.spark.createDataFrame(day_rows, SCHEMA))
        self.model = CrudModel(rows)
        self.ids = list(ids)  # lookup candidates, in insertion order
        self.next_new = 0
        self.errors: list[str] = []
        self.layer = {
            "files_lookup": [], "files_query": [], "files_active": [],
            "rewritten": 0, "matched": 0, "written": 0, "user": 0,
        }
        with self.phase("warmup"):
            self.round()  # each operation once, untimed

    @property
    def observing(self) -> bool:
        return self.tr.enabled and self.timed

    def start_window(self) -> None:
        self.v0 = self.table.latest_version()

    # -- operations --------------------------------------------------------
    def round(self) -> None:
        for kind in ROUND:
            getattr(self, "_" + kind)()

    def _observe(self, spec=None, files_key: str | None = None) -> None:
        """Traced window only: time the log snapshot and the query
        compile, and count the files the spec's pruned read would scan."""
        if not self.observing:
            return
        with self.tr.span("txlog.snapshot"):
            schema, active = self.table.snapshot()
        self.layer["files_active"].append(len(active))
        if spec is not None:
            with self.tr.span("query.compile"):
                compile_query(spec, schema)
        if files_key:
            self.layer[files_key].append(len(self.table.read_pruned(spec).inputFiles()))

    def _lookup(self) -> None:
        oid = self.ids[self.rng.integers(len(self.ids))]
        self._observe(Q.all_of().when("_id", oid), "files_lookup")
        if self.observing:
            with self.tr.span("lookup.plan"):
                self.svc.df.filter(F.col("_id") == F.lit(oid)).limit(1)
        got = self.op("lookup", self.svc.get_object_by_id, oid)
        if got != self.model.lookup(oid):
            self.errors.append(f"lookup {oid}: {got} != model {self.model.lookup(oid)}")

    def _query(self) -> None:
        day = int(self.rng.integers(DAYS))
        lo = int(self.rng.integers(0, VALUE_RANGE - QUERY_WIDTH))
        hi = lo + QUERY_WIDTH - 1

        def spec():
            return Q.all_of().when("day", day).range_closed_closed("value", lo, hi)

        self._observe(spec(), "files_query")

        def run():
            with self.tr.span("query.plan"):
                df = self.svc.get_objects_by_spec(spec())
            with self.tr.span("query.exec"):
                return df.collect()

        got = self.op("query", run)
        if got is not None:
            got = sorted((r["_id"], r["day"], r["seq"], r["value"], r["cnt"]) for r in got)
            if got != self.model.query(day, lo, hi):
                self.errors.append(f"query day={day} value=[{lo},{hi}]: differs from model")

    def _update(self) -> None:
        per_day = ROWS // DAYS
        day = int(self.rng.integers(DAYS))
        lo = int(self.rng.integers(day * per_day, (day + 1) * per_day - UPDATE_SPAN))
        hi = lo + UPDATE_SPAN - 1

        def spec():
            return Q.all_of().when("day", day).range_closed_closed("seq", lo, hi)

        self._observe(spec())
        before = self._files_and_bytes()
        self.op("update", self.svc.update_objects_by_spec, spec(), U.update().increment("cnt", 1))
        matched = self.model.increment(day, lo, hi)
        if self.observing:
            after = self._files_and_bytes()
            retired = set(before[0]) - set(after[0])
            self.layer["rewritten"] += sum(before[0][p] for p in retired)
            self.layer["matched"] += matched
            self.layer["written"] += after[1] - before[1]
            m = self.model.df
            hit = (m["day"] == day) & (m["seq"] >= lo) & (m["seq"] <= hi)
            self.layer["user"] += _user_bytes(m[hit.to_numpy()])

    def _append(self) -> None:
        n = APPEND_ROWS
        k = np.arange(self.next_new, self.next_new + n)
        self.next_new += n
        rows = _rows(
            np.char.add("n", np.char.zfill(k.astype(str), 8)),
            self.rng.integers(0, DAYS, n),
            10 * ROWS + k,
            self.rng.integers(0, VALUE_RANGE, n),
        )
        df = self.spark.createDataFrame(rows, SCHEMA)
        self._observe()
        before = self._files_and_bytes()
        self.op("append", self.svc.store_objects, df)
        self.model.append(rows)
        self.ids += list(rows["_id"])
        if self.observing:
            self.layer["written"] += self._files_and_bytes()[1] - before[1]
            self.layer["user"] += _user_bytes(rows)

    def _files_and_bytes(self) -> tuple[dict[str, int], int]:
        if not self.observing:
            return {}, 0
        _, active = self.table.snapshot()
        return {e.path: e.rows for e in active}, _dir_bytes(self.table.root)

    # -- results -----------------------------------------------------------
    def check(self) -> list[str]:
        errors = list(self.errors)
        meta = self.svc.count_objects()
        full = self.svc.df
        scan = full.count()
        if not (meta == scan == self.model.count()):
            errors.append(f"row count: metadata {meta}, scan {scan}, model {self.model.count()}")
        sums = full.agg(*[F.sum(c).alias(c) for c in ("day", "seq", "value", "cnt")]).first()
        if sums.asDict() != self.model.sums():
            errors.append(f"column sums {sums.asDict()} != model {self.model.sums()}")
        if self.model.df["cnt"].sum() == 0:
            errors.append("no update matched any row")
        return errors

    def e2e_detail(self) -> dict:
        return {
            "lookup_p50_ms": (self.p50_ms("lookup"), "ms"),
            "query_p50_ms": (self.p50_ms("query"), "ms"),
            "update_p50_ms": (self.p50_ms("update"), "ms"),
            "append_p50_ms": (self.p50_ms("append"), "ms"),
        }

    def layer_detail(self, events: dict) -> dict:
        L = self.layer
        # each traced lookup is preceded by its plan-only span
        plan = self.span_ms("lookup.plan")
        lookup_exec = [op - pl for op, pl in zip(self.span_ms("lookup"), plan)]
        out = {
            "query.compile_ms": (median(self.span_ms("query.compile")), "ms"),
            "txlog.snapshot_ms": (median(self.span_ms("txlog.snapshot")), "ms"),
            "txlog.files_per_lookup": (median(L["files_lookup"]), "count"),
            "txlog.files_per_query": (median(L["files_query"]), "count"),
            "txlog.files_active": (median(L["files_active"]), "count"),
            "txlog.rows_rewritten_per_row_updated": (L["rewritten"] / L["matched"], "ratio"),
            "txlog.bytes_written_per_user_byte": (L["written"] / L["user"], "ratio"),
            "txlog.commits": (self.table.latest_version() - self.v0, "count"),
            "lookup.plan_ms": (median(plan), "ms"),
            "lookup.exec_ms": (median(lookup_exec), "ms"),
            "query.plan_ms": (median(self.span_ms("query.plan")), "ms"),
            "query.exec_ms": (median(self.span_ms("query.exec")), "ms"),
        }
        for kind in ("lookup", "query", "update", "append"):
            out[f"crud.jobs_per_{kind}"] = (self.jobs_per(events, kind), "count")
        return out
