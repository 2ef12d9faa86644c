"""CRUD service over a parquet-backed table — the Spark analogue of the
reference's per-backend ICrudService implementations
(ElasticsearchCrudService.java / MongoDbCrudService.java).

Read ops are lazy DataFrame expressions (Catalyst pushes predicates and
projections into the scan). Write ops come in three backends, most- to
least-capable:

- ``table=`` (a :class:`~aleph2_contrib_spark.sources.txlog.TransactionalTable`):
  mutations are PARTITION-SCOPED file replacement + one atomic log
  commit — only the files of partitions the spec can touch are read or
  written (the reference's per-shard update routing,
  ElasticsearchCrudService.java:869-914, re-expressed as a commit log).
  This is the 100 TB path.
- ``path=`` (plain parquet dir): full-snapshot rewrite, but committed via
  a pointer-file version swap (``sources/manifest.py``) — never a
  directory move, so the table stays readable throughout and the commit
  is object-store-safe. Correct at any scale, efficient only for small
  reference tables.
- ``df=`` (in-memory): rebinds the DataFrame; tests and derived views.
"""

from __future__ import annotations

import os
import shutil
from typing import TYPE_CHECKING, Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aleph2_contrib_spark.functions.query import (
    MultiQuery,
    Q,
    SingleQuery,
    apply_query,
    compile_query,
)
from aleph2_contrib_spark.functions.update import (
    UpdateComponent,
    apply_update,
    delete_by_spec,
    upsert_by_spec,
)
from aleph2_contrib_spark.sources import manifest

if TYPE_CHECKING:
    from aleph2_contrib_spark.sources.txlog import TransactionalTable


class CrudService:
    """One instance per bucket/table. ``df`` is the current snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        df: DataFrame | None = None,
        table: "TransactionalTable | None" = None,
    ):
        self.spark = spark
        self.path = path
        self._df = df
        self.table = table

    # -- plumbing ----------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        if self.table is not None:
            return self.table.read()
        if self._df is None:
            self._df = self.spark.read.parquet(self._data_path())
        return self._df

    def _data_path(self) -> str:
        """Live data dir: the manifest pointer if one exists, else the raw
        path (legacy layout before the first versioned rewrite)."""
        return manifest.resolve(self.path) or self.path

    def _rewrite(self, new_df: DataFrame) -> None:
        """Full-snapshot replace via pointer commit: write a NEW immutable
        version dir, then atomically repoint ``_current`` (manifest.py) —
        the parquet stand-in for the reference's alias repoint on promote
        (ElasticsearchIndexService.java:495-545). Readers holding the old
        version keep a fully intact directory; retired versions are
        garbage-collected with a one-version grace window."""
        if self.table is not None:
            self.table.overwrite(new_df)
            return
        if self.path is None:
            self._df = new_df
            return
        version = manifest.new_version()
        new_df.write.mode("overwrite").parquet(os.path.join(self.path, version))
        had_pointer = manifest.read_pointer(self.path) is not None
        manifest.commit(self.path, version)
        if not had_pointer:
            # first versioned rewrite over a legacy flat layout: the old
            # top-level files are the retired version — drop them
            for name in os.listdir(self.path):
                p = os.path.join(self.path, name)
                if os.path.isfile(p) and not name.startswith(("_", ".")):
                    os.remove(p)
        manifest.vacuum(self.path, keep=1)
        self._df = None

    # -- read surface (C1-C3, C17-C18) ------------------------------------
    def get_object_by_id(self, oid: Any, id_field: str = "_id") -> dict | None:
        if self.table is not None:
            # only the files whose log metadata (partition values, zone
            # maps, Blooms) admits the id — a single-row lookup, not a scan
            # of the whole snapshot
            df = self.table.read_pruned(Q.all_of().when(id_field, oid))
        else:
            df = self.df
        rows = df.filter(F.col(id_field) == F.lit(oid)).limit(1).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def get_object_by_spec(self, spec) -> dict | None:
        rows = self.get_objects_by_spec(spec).limit(1).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def get_objects_by_spec(self, spec) -> DataFrame:
        if self.table is not None:
            # file-level pruning from the commit log (partition values,
            # zone maps, Blooms) before the full predicate
            return self.table.read_with_query(spec)
        return apply_query(self.df, spec)

    def count_objects(self, spec=None) -> int:
        if spec is None:
            if self.table is not None:
                n = self.table.count_rows()  # metadata-only when tracked
                if n is not None:
                    return n
            return self.df.count()
        if self.table is not None:
            # pruned scan + predicate only (count ignores the spec's
            # limit/ordering/projection, like the non-table path)
            pruned = self.table.read_pruned(spec)
            return pruned.filter(compile_query(spec, pruned.schema)).count()
        return self.df.filter(compile_query(spec, self.df.schema)).count()

    def get_meta_model(self) -> dict:
        """C19: JDBC/MetaModel-style table metadata (reference wraps the
        collection in an Apache MetaModel DataContext,
        MongoDbCrudService.java:692-735) — here the Spark schema is the
        catalog."""
        return {
            "table": self.path,
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
                for f in self.df.schema.fields
            ],
        }

    def get_raw_service(self) -> DataFrame:
        """C17: same table as untyped JSON strings."""
        return self.df.select(F.to_json(F.struct("*")).alias("json"))

    def get_filtered_repo(self, auth_spec) -> "CrudService":
        """C18: repo view pre-filtered by an authorization predicate."""
        return CrudService(self.spark, df=self.df.filter(compile_query(auth_spec, self.df.schema)))

    def get_masked_repo(
        self,
        auth_spec=None,
        drop_cols: Sequence[str] = (),
        hash_cols: Sequence[str] = (),
    ) -> "CrudService":
        """G7/C18 field-level visibility: a repo view with rows filtered by
        an auth predicate, sensitive columns DROPPED, and pseudonymizable
        columns replaced by a stable sha256 digest (joinable across views,
        not reversible). The field-level half of the reference's security
        service (per-field document visibility in its security-service
        integration); row-level `bucket_path` filtering is the other half.

        Masking is a pure projection over the same lazy plan — Catalyst
        still prunes/pushes into the scan, and dropped columns never leave
        the parquet reader."""
        d = self.df
        if auth_spec is not None:
            d = d.filter(compile_query(auth_spec, d.schema))
        missing = (set(drop_cols) | set(hash_cols)) - set(d.columns)
        if missing:
            raise ValueError(f"masked columns not in schema: {sorted(missing)}")
        d = d.drop(*drop_cols)
        for c in hash_cols:
            d = d.withColumn(c, F.sha2(F.col(c).cast("string"), 256))
        return CrudService(self.spark, df=d)

    # -- physical layout hints (C16) ---------------------------------------
    def optimize_query(self, ordered_fields: Sequence[str]) -> None:
        """C16 optimizeQuery (reference: MongoDbCrudService.java:297-322
        creates a secondary index on the field list). Parquet has no
        secondary indexes; the scale-equivalent is clustering the file
        layout on those fields so min/max row-group stats become selective
        (the Z-ORDER/sort-order maintenance of table formats). Rewrites the
        table range-partitioned THEN sorted on the field list — without the
        repartitionByRange, equal key values stay scattered across every
        file and per-file min/max stats span the whole domain (no
        selectivity); a no-op for in-memory repos."""
        if self.path is None and self.table is None:
            return
        self._registered_indexes = getattr(self, "_registered_indexes", [])
        self._registered_indexes.append(tuple(ordered_fields))
        if self.table is not None:
            # log-committed clustering: zone maps become the index. A
            # multi-field "index" clusters on the Z-curve so EVERY field's
            # zone maps are selective (a lexicographic sort serves only the
            # leading field — not what a Mongo compound index user expects
            # of the later fields); string fields fall back to
            # lexicographic, where Z-bucketing has no ordering to exploit.
            if len(ordered_fields) > 1:
                try:
                    self.table.optimize(ordered_fields, zorder=True)
                    return
                except ValueError:
                    pass  # non-numeric field in the list
            self.table.optimize(ordered_fields)
            return
        self._rewrite(
            self.df.repartitionByRange(*ordered_fields).sortWithinPartitions(*ordered_fields)
        )

    def deregister_optimized_query(self, ordered_fields: Sequence[str]) -> bool:
        """C16: drop a registered layout hint (data is left as-is — matching
        Mongo dropIndex semantics, which don't reshuffle documents)."""
        idx = getattr(self, "_registered_indexes", [])
        try:
            idx.remove(tuple(ordered_fields))
            return True
        except ValueError:
            return False

    # -- write surface (C4-C6, C13-C15) ------------------------------------
    def store_objects(self, new_df: DataFrame, replace_if_present: bool = False, id_field: str = "_id") -> None:
        if replace_if_present and self.table is not None and id_field in self.df.columns:
            # upsert-by-id = MERGE: one commit, candidate files pruned by
            # the incoming ids' bounds — not a full-table rewrite
            self.table.merge_by_key(new_df, [id_field])
        elif replace_if_present and id_field in self.df.columns:
            survivors = self.df.join(
                F.broadcast(new_df.select(id_field)), on=id_field, how="left_anti"
            )
            self._rewrite(survivors.unionByName(new_df, allowMissingColumns=True))
        elif self.table is not None:
            self.table.append(new_df)
        elif self.path is not None:
            new_df.write.mode("append").parquet(self._data_path())
            self._df = None
        else:
            self._df = self.df.unionByName(new_df, allowMissingColumns=True)

    def update_objects_by_spec(self, spec, update: UpdateComponent) -> None:
        if self.table is not None:
            self.table.update_by_spec(spec, update)  # partition-scoped
        else:
            self._rewrite(apply_update(self.df, spec, update))

    def update_object_by_spec(self, spec, update: UpdateComponent, upsert: bool = False) -> None:
        if self.table is not None:
            if upsert:
                self.table.upsert_by_spec(spec, update)
            else:
                self.table.update_by_spec(spec, update)
        elif upsert:
            self._rewrite(upsert_by_spec(self.df, spec, update))
        else:
            self._rewrite(apply_update(self.df, spec, update))

    def delete_objects_by_spec(self, spec) -> None:
        if self.table is not None:
            self.table.delete_by_spec(spec)  # partition-scoped
        else:
            self._rewrite(delete_by_spec(self.df, spec))

    def delete_object_by_id(self, oid: Any, id_field: str = "_id") -> None:
        if self.table is not None:
            self.table.delete_by_spec(Q.all_of().when(id_field, oid))
        else:
            self._rewrite(self.df.filter(F.col(id_field) != F.lit(oid)))

    def delete_datastore(self) -> None:
        root = self.table.root if self.table is not None else self.path
        if root and os.path.exists(root):
            shutil.rmtree(root)
        self._df = None
