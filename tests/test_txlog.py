"""TransactionalTable (sources/txlog.py): the commit-log mutation path.

The invariants that make the mutation path 100 TB-safe:
- partition-scoped mutations leave untouched partitions' files
  BYTE-IDENTICAL (checked by hash, not row equality);
- commits are atomic metadata; a reader's resolved snapshot keeps
  working through overwrites and (grace-bounded) vacuums;
- conflicting concurrent rewrites are detected, not silently merged.
"""

import glob
import hashlib
import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aleph2_contrib_spark.functions.query import Q
from aleph2_contrib_spark.functions.update import U
from aleph2_contrib_spark.operators.crud import CrudService
from aleph2_contrib_spark.sources.txlog import (
    ConcurrentModificationError,
    TransactionalTable,
)


def _events(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") % 7).cast("double").alias("value"),
    )


def _mk(spark, partition_cols=("event_type",), n=60):
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root, partition_cols=partition_cols)
    t.append(_events(spark, n))
    return t


def _file_hashes(t):
    out = {}
    for f in glob.glob(os.path.join(t.root, "_data", "**", "*.parquet"), recursive=True):
        out[os.path.relpath(f, t.root)] = hashlib.md5(open(f, "rb").read()).hexdigest()
    return out


def test_append_read_roundtrip(spark):
    t = _mk(spark)
    assert t.read().count() == 60
    got = {r.event_type for r in t.read().select("event_type").distinct().collect()}
    assert got == {"t0", "t1", "t2"}
    # partition values recorded in the log
    _, files = t.snapshot()
    assert {e.partition["event_type"] for e in files} == {"t0", "t1", "t2"}


def test_update_by_spec_touches_only_matched_partitions(spark):
    t = _mk(spark)
    before = _file_hashes(t)
    untouched_before = {
        p: h
        for p, h in before.items()
        for e in t.snapshot()[1]
        if e.path == p and e.partition["event_type"] != "t1"
    }
    t.update_by_spec(
        Q.all_of().when("event_type", "t1"), U.update().increment("value", 100.0)
    )
    after = _file_hashes(t)
    # untouched partitions: files still present, byte-identical
    for p, h in untouched_before.items():
        assert after.get(p) == h, f"untouched file {p} changed"
    # values updated exactly where matched
    df = t.read()
    assert df.filter((F.col("event_type") == "t1") & (F.col("value") < 100)).count() == 0
    assert df.filter((F.col("event_type") != "t1") & (F.col("value") >= 100)).count() == 0
    assert df.count() == 60


def test_static_partition_pruning_no_probe(spark):
    t = _mk(spark)
    sets = t._static_partition_sets(
        Q.all_of().when("event_type", "t2").range_above("value", 3.0, inclusive=True)
    )
    assert sets == {"event_type": {"t2"}}
    touched, untouched = t._touched(Q.all_of().when("event_type", "t2"))
    assert all(e.partition["event_type"] == "t2" for e in touched)
    assert all(e.partition["event_type"] != "t2" for e in untouched)


def test_probe_fallback_on_nonpartition_spec(spark):
    t = _mk(spark)
    # spec doesn't mention the partition col → dynamic probe; only
    # partitions actually containing matches are touched
    touched, untouched = t._touched(Q.all_of().when("event_id", 4))  # 4 % 3 = 1 → t1
    assert {e.partition["event_type"] for e in touched} == {"t1"}
    assert len(untouched) > 0


def test_delete_empties_partition_without_residue(spark):
    t = _mk(spark)
    t.delete_by_spec(Q.all_of().when("event_type", "t0"))
    df = t.read()
    assert df.filter(F.col("event_type") == "t0").count() == 0
    assert df.count() == 40
    _, files = t.snapshot()
    assert all(e.partition["event_type"] != "t0" for e in files)


def test_upsert_match_updates_and_no_match_appends(spark):
    t = _mk(spark)
    t.upsert_by_spec(
        Q.all_of().when("event_type", "t2"), U.update().set("value", 9.5)
    )
    assert t.read().filter((F.col("event_type") == "t2") & (F.col("value") != 9.5)).count() == 0
    v_before = t.latest_version()
    t.upsert_by_spec(
        Q.all_of().when("event_type", "brand_new"), U.update().set("value", 1.25)
    )
    hist = t.history()
    assert hist[-1]["op"] == "upsert_insert" and hist[-1]["n_remove"] == 0
    row = t.read().filter(F.col("event_type") == "brand_new").collect()
    assert len(row) == 1 and row[0].value == 1.25
    assert t.latest_version() == v_before + 1


def test_snapshot_isolation_and_vacuum_grace(spark):
    t = _mk(spark)
    old = t.read()  # resolves the v1 snapshot's files
    t.overwrite(_events(spark, 10))
    t.vacuum(retain_snapshots=2, min_age_seconds=0)  # snapshot grace keeps prior files
    assert old.count() == 60  # reader on the old snapshot unaffected
    assert t.read().count() == 10
    # default min_age keeps young files (concurrent-writer staging grace)
    assert t.vacuum(retain_snapshots=1) == []
    removed = t.vacuum(retain_snapshots=1, min_age_seconds=0)
    assert removed, "expected retired files to be vacuumed"


def test_time_travel(spark):
    t = _mk(spark)
    v1 = t.latest_version()
    t.delete_by_spec(Q.all_of().when("event_type", "t0"))
    assert t.read(version=v1).count() == 60
    assert t.read().count() == 40


def test_concurrent_conflict_detected(spark):
    t = _mk(spark)
    rv = t.latest_version()  # the version this transaction reads at
    schema, files = t.snapshot()
    touched, _ = t._touched(Q.all_of().when("event_type", "t1"))
    # a racing writer overwrites the table (removes every active file)
    t2 = TransactionalTable(spark, t.root, partition_cols=t.partition_cols)
    t2.overwrite(_events(spark, 5))
    with pytest.raises(ConcurrentModificationError):
        t._commit(
            "update_by_spec", [], [e.path for e in touched], schema,
            expect_active=[e.path for e in touched], read_version=rv,
        )


def test_append_conflict_retries_cleanly(spark):
    t = _mk(spark)
    # steal the next version number, as a racing append would
    v = t.latest_version() + 1
    with open(os.path.join(t.root, "_txlog", f"{v:020d}.json"), "x") as f:
        f.write('{"v": %d, "op": "noop", "add": [], "remove": []}' % v)
    t.append(_events(spark, 3))  # retries onto v+1 without error
    assert t.read().count() == 63


def test_schema_evolution_add_column(spark):
    t = _mk(spark)
    t.append(
        _events(spark, 5).withColumn("lang", F.lit("en"))
    )
    df = t.read()
    assert "lang" in df.columns
    assert df.filter(F.col("lang").isNull()).count() == 60  # old files → null
    assert df.filter(F.col("lang") == "en").count() == 5


def test_compact_reduces_files_preserves_data(spark):
    t = _mk(spark, n=30)
    for _ in range(3):
        t.append(_events(spark, 30))
    before_total = t.read().agg(F.sum("value")).collect()[0][0]
    n_before = len(t.snapshot()[1])
    t.compact(target_files_per_partition=1)
    _, files = t.snapshot()
    per_part = {}
    for e in files:
        per_part[e.partition["event_type"]] = per_part.get(e.partition["event_type"], 0) + 1
    assert len(files) < n_before
    assert t.read().count() == 120
    assert t.read().agg(F.sum("value")).collect()[0][0] == before_total


def test_unpartitioned_table_mutations(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_np_")
    t = TransactionalTable(spark, root)
    t.append(_events(spark, 20))
    t.update_by_spec(Q.all_of().when("event_id", 3), U.update().set("value", 99.0))
    assert t.read().filter(F.col("event_id") == 3).collect()[0].value == 99.0
    t.delete_by_spec(Q.all_of().when("event_id", 3))
    assert t.read().count() == 19


def test_crud_service_on_transactional_table(spark):
    t = _mk(spark)
    svc = CrudService(spark, table=t)
    assert svc.count_objects() == 60
    svc.update_objects_by_spec(
        Q.all_of().when("event_type", "t0"), U.update().set("value", -1.0)
    )
    assert svc.df.filter((F.col("event_type") == "t0") & (F.col("value") != -1.0)).count() == 0
    svc.delete_object_by_id(7, id_field="event_id")
    assert svc.count_objects() == 59
    svc.store_objects(_events(spark, 2))
    assert svc.count_objects() == 61
    assert t.history()[-1]["op"] == "append"


def test_zone_map_stats_skip_files_on_mutation(spark):
    """stats_cols zone maps: a by-id update on an id-ordered table must
    rewrite only the file(s) whose [min,max] covers the id — every other
    file stays byte-identical, with NO probe scan (pure log metadata)."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_zm_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",))
    for lo in (0, 20, 40):
        batch = spark.range(lo, lo + 20).select(
            F.col("id").alias("event_id"), F.lit("x").alias("payload"), F.lit(1.0).alias("value")
        ).coalesce(1)
        t.append(batch)
    _, files = t.snapshot()
    assert all(e.stats and "event_id" in e.stats for e in files)
    before = _file_hashes(t)

    spec = Q.all_of().when("event_id", 25)
    # metadata pruning alone pins the touched set
    touched, untouched = t._touched(spec)
    assert len(touched) == 1
    assert touched[0].stats["event_id"] == [20, 39]

    t.update_by_spec(spec, U.update().set("value", 99.0))
    after = _file_hashes(t)
    for e in untouched:
        assert after.get(e.path) == before[e.path], f"untouched {e.path} changed"
    assert t.read().filter(F.col("event_id") == 25).collect()[0].value == 99.0
    assert t.read().count() == 60


def test_zone_map_range_pruning_on_read_and_delete(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_zr_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",))
    for lo in (0, 20, 40):
        t.append(
            spark.range(lo, lo + 20).select(
                F.col("id").alias("event_id"), F.lit(1.0).alias("value")
            ).coalesce(1)
        )
    _, active = t.snapshot()
    spec = Q.all_of().range_above("event_id", 40, inclusive=True)
    pruned = t._prune_files(active, spec)
    assert len(pruned) == 1 and pruned[0].stats["event_id"] == [40, 59]
    assert t.read_with_query(spec).count() == 20

    before = _file_hashes(t)
    t.delete_by_spec(spec)
    after = _file_hashes(t)
    for e in active:
        if e.stats["event_id"][0] < 40:
            assert after.get(e.path) == before[e.path]
    assert t.read().count() == 40


def test_stats_survive_partitioned_layout(spark):
    """Partition pruning and zone maps compose: partition pins event_type,
    stats pin the id range within it."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_zp_")
    t = TransactionalTable(
        spark, root, partition_cols=("event_type",), stats_cols=("event_id",)
    )
    for lo in (0, 100):
        t.append(
            spark.range(lo, lo + 50).select(
                F.col("id").alias("event_id"),
                F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("event_type"),
                F.lit(0.0).alias("value"),
            )
        )
    _, active = t.snapshot()
    spec = Q.all_of().when("event_type", "t0").range_below("event_id", 50, inclusive=False)
    pruned = t._prune_files(active, spec)
    assert all(e.partition["event_type"] == "t0" for e in pruned)
    assert all(e.stats["event_id"][0] < 50 for e in pruned)
    assert len(pruned) < len([e for e in active if e.partition["event_type"] == "t0"])
    assert t.read_with_query(spec).count() == 25


def test_idempotent_txn_append(spark):
    """(txn_app, txn_version) markers: a replayed batch version commits
    nothing; a new version appends; different apps don't interfere."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_txn_")
    t = TransactionalTable(spark, root)
    t.append(_events(spark, 10), txn_app="jobA", txn_version=0)
    assert t.read().count() == 10
    t.append(_events(spark, 10), txn_app="jobA", txn_version=0)  # replay
    assert t.read().count() == 10
    t.append(_events(spark, 5), txn_app="jobA", txn_version=1)
    assert t.read().count() == 15
    t.append(_events(spark, 3), txn_app="jobB", txn_version=0)  # other app
    assert t.read().count() == 18
    assert t.last_txn_version("jobA") == 1
    assert t.last_txn_version("jobB") == 0
    with pytest.raises(ValueError):
        t.append(_events(spark, 1), txn_app="jobA")  # version missing


def test_model_based_random_op_sequences(spark):
    """Model-based check: a seeded random sequence of append / update /
    delete / overwrite commits against the commit-log table must match a
    plain in-memory model of the same operations, after every step. This
    is the durability analogue of the DSL fuzz suite — it exercises op
    interleavings (empty touches, partition moves, repeated keys) no
    hand-written case covers."""
    import random

    rng = random.Random(20240814)
    root = tempfile.mkdtemp(prefix="a2s_txlog_model_")
    t = TransactionalTable(spark, root, partition_cols=("event_type",))
    model: dict[int, tuple[str, float]] = {}  # event_id -> (event_type, value)
    next_id = 0

    def snapshot_table():
        return {
            r.event_id: (r.event_type, r.value)
            for r in t.read().collect()
        }

    for step in range(12):
        op = rng.choice(["append", "update", "delete", "overwrite"] if model else ["append"])
        if op == "append":
            n = rng.randint(1, 8)
            rows = [
                (next_id + i, f"t{rng.randint(0, 2)}", float(rng.randint(0, 9)))
                for i in range(n)
            ]
            next_id += n
            t.append(spark.createDataFrame(rows, "event_id long, event_type string, value double"))
            for i, ty, v in rows:
                model[i] = (ty, v)
        elif op == "update":
            ty = f"t{rng.randint(0, 2)}"
            delta = float(rng.randint(1, 5))
            t.update_by_spec(
                Q.all_of().when("event_type", ty), U.update().increment("value", delta)
            )
            for k, (mt, mv) in list(model.items()):
                if mt == ty:
                    model[k] = (mt, mv + delta)
        elif op == "delete":
            cut = float(rng.randint(0, 12))
            t.delete_by_spec(Q.all_of().range_above("value", cut, inclusive=True))
            model = {k: v for k, v in model.items() if v[1] < cut}
        else:  # overwrite with a subset
            keep = {k: v for k, v in model.items() if k % 2 == 0}
            rows = [(k, ty, v) for k, (ty, v) in keep.items()]
            t.overwrite(
                spark.createDataFrame(rows, "event_id long, event_type string, value double")
            )
            model = keep
        got = snapshot_table()
        assert got == model, f"divergence after step {step} ({op}): {got} != {model}"


def test_update_adding_new_column_evolves_schema(spark):
    """An update that SETs a brand-new column must evolve the committed
    schema: matched partitions carry the value, untouched partitions read
    as null (not silently dropped)."""
    t = _mk(spark)
    t.update_by_spec(
        Q.all_of().when("event_type", "t1"), U.update().set("flagged", "yes")
    )
    df = t.read()
    assert "flagged" in df.columns
    assert df.filter((F.col("event_type") == "t1") & (F.col("flagged") != "yes")).count() == 0
    assert df.filter((F.col("event_type") != "t1") & F.col("flagged").isNotNull()).count() == 0


def test_update_moving_rows_across_partitions(spark):
    """An update that rewrites the PARTITION column moves rows between
    partitions inside one atomic commit: new files land under the target
    partition value, source files retire, nothing is lost or duplicated."""
    t = _mk(spark)
    t.update_by_spec(
        Q.all_of().when("event_type", "t2"), U.update().set("event_type", "t1")
    )
    df = t.read()
    assert df.count() == 60
    assert df.filter(F.col("event_type") == "t2").count() == 0
    assert df.filter(F.col("event_type") == "t1").count() == 40  # 20 + moved 20
    _, files = t.snapshot()
    assert all(e.partition["event_type"] != "t2" for e in files)
    # a follow-up partition-pinned mutation sees the moved rows
    t.delete_by_spec(Q.all_of().when("event_type", "t1"))
    assert t.read().count() == 20


def test_bloom_skipping_on_unordered_point_lookup(spark):
    """Bloom file skipping: appends of DISJOINT but UNORDERED id sets get
    per-file Blooms; a by-id mutation skips every file whose Bloom says
    'definitely absent' — the zone map alone can't help because each
    file's [min, max] spans nearly the whole domain."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_bloom_")
    t = TransactionalTable(spark, root, bloom_cols=("event_id",))
    # three appends with interleaved ids: 0,3,6..., 1,4,7..., 2,5,8...
    for start in (0, 1, 2):
        batch = spark.range(20).select(
            (F.col("id") * 3 + start).alias("event_id"), F.lit(1.0).alias("value")
        ).coalesce(1)
        t.append(batch)
    _, files = t.snapshot()
    assert all(e.bloom and "event_id" in e.bloom for e in files)
    # id 30 lives in the start=0 file only (30 % 3 == 0)
    touched, untouched = t._touched(Q.all_of().when("event_id", 30))
    assert len(touched) == 1 and len(untouched) == 2
    before = _file_hashes(t)
    t.update_by_spec(Q.all_of().when("event_id", 30), U.update().set("value", 5.0))
    after = _file_hashes(t)
    for e in untouched:
        assert after.get(e.path) == before[e.path]
    assert t.read().filter(F.col("event_id") == 30).collect()[0].value == 5.0
    assert t.read().count() == 60
    # pruned reads through the CrudService route
    svc = CrudService(spark, table=t)
    assert svc.count_objects(Q.all_of().when("event_id", 30)) == 1
    assert svc.get_object_by_spec(Q.all_of().when("event_id", 31))["value"] == 1.0


def test_optimize_clusters_files_making_zone_maps_selective(spark):
    """Before optimize, interleaved appends give every file a domain-wide
    [min, max] (zone maps useless). optimize() re-clusters as a log
    commit; afterwards a by-id mutation touches exactly one file."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_opt_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",))
    for start in (0, 1, 2):
        t.append(
            spark.range(20).select(
                (F.col("id") * 3 + start).alias("event_id"), F.lit(1.0).alias("value")
            ).coalesce(1)
        )
    touched, _ = t._touched(Q.all_of().when("event_id", 30))
    assert len(touched) == 3  # every file's range covers id 30
    t.optimize(["event_id"])
    _, files = t.snapshot()
    assert len(files) >= 2
    # ranges are now disjoint slices
    spans = sorted(tuple(e.stats["event_id"]) for e in files)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo
    touched2, untouched2 = t._touched(Q.all_of().when("event_id", 30))
    assert len(touched2) == 1 and len(untouched2) == len(files) - 1
    assert t.read().count() == 60
    # old reader snapshot still valid (files retired, not deleted)
    assert t.read(version=3).count() == 60


def test_merge_by_key_upserts_and_prunes(spark):
    """MERGE by key: matching keys replaced, new keys inserted, one
    commit; with clustered stats, files outside the incoming keys'
    range stay byte-identical."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_merge_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",))
    for lo in (0, 20, 40):
        t.append(
            spark.range(lo, lo + 20).select(
                F.col("id").alias("event_id"), F.lit(1.0).alias("value")
            ).coalesce(1)
        )
    before = _file_hashes(t)
    _, active = t.snapshot()
    incoming = spark.createDataFrame(
        [(5, 100.0), (7, 200.0), (60, 300.0)], "event_id long, value double"
    )
    t.merge_by_key(incoming, ["event_id"])
    df = t.read()
    assert df.count() == 61  # 60 - 2 replaced + 3 incoming
    got = {r.event_id: r.value for r in df.filter(F.col("event_id").isin(5, 7, 60)).collect()}
    assert got == {5: 100.0, 7: 200.0, 60: 300.0}
    # files covering [20,39] and [40,59] are outside [5,60]? 60 overlaps [40,59]? no — 60 > 59;
    # bounds are [5, 60] so ALL ranges overlapping [5,60] rewrite; [20,39] and [40,59] overlap.
    # Narrow-merge case: keys within one file's range
    before2 = _file_hashes(t)
    _, active2 = t.snapshot()
    t.merge_by_key(
        spark.createDataFrame([(21, 9.0)], "event_id long, value double"), ["event_id"]
    )
    after2 = _file_hashes(t)
    for e in active2:
        lo, hi = e.stats["event_id"]
        if hi < 21 or lo > 21:
            assert after2.get(e.path) == before2[e.path], f"pruned file {e.path} changed"
    assert t.read().filter(F.col("event_id") == 21).collect()[0].value == 9.0
    assert t.history()[-1]["op"] == "merge_by_key"


def test_merge_by_key_idempotent_txn(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_mtx_")
    t = TransactionalTable(spark, root)
    inc = spark.createDataFrame([(1, 1.0)], "k long, v double")
    t.merge_by_key(inc, ["k"], txn_app="agg", txn_version=0)
    t.merge_by_key(inc, ["k"], txn_app="agg", txn_version=0)  # replay
    assert t.read().count() == 1
    t.merge_by_key(
        spark.createDataFrame([(1, 2.0), (2, 5.0)], "k long, v double"),
        ["k"], txn_app="agg", txn_version=1,
    )
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: 2.0, 2: 5.0}


def test_metadata_only_count_and_merge_upsert_via_crud(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_cnt_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",))
    t.append(_events(spark, 30))
    assert t.count_rows() == 30  # pure log metadata
    t.delete_by_spec(Q.all_of().when("event_id", 3))
    assert t.count_rows() == 29
    svc = CrudService(spark, table=t)
    assert svc.count_objects() == 29
    # store_objects(replace_if_present) routes through MERGE
    newer = spark.range(2).select(
        (F.col("id") + 28).alias("event_id"),
        F.lit("tX").alias("event_type"),
        F.lit(9.9).alias("value"),
    )
    svc.store_objects(newer, replace_if_present=True, id_field="event_id")
    assert t.history()[-1]["op"] == "merge_by_key"
    got = {r.event_id: r.value for r in t.read().filter(F.col("event_id") >= 28).collect()}
    assert got == {28: 9.9, 29: 9.9}
    assert svc.count_objects() == 29  # 28,29 replaced (28 existed, 29 existed)


def test_delete_by_spec_null_rows_survive(spark):
    """Three-valued logic: a row with NULL in the queried field is NOT
    matched by the delete and must survive (the naive ~pred drops it)."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_null_")
    t = TransactionalTable(spark, root)
    t.append(
        spark.createDataFrame(
            [(1, "expired"), (2, None), (3, "live")], "event_id long, status string"
        )
    )
    t.delete_by_spec(Q.all_of().when("status", "expired"))
    got = sorted(r.event_id for r in t.read().collect())
    assert got == [2, 3]


def test_bloom_cols_tolerate_null_values(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_blnull_")
    t = TransactionalTable(spark, root, bloom_cols=("k",))
    t.append(
        spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "event_id long, k string")
    )
    _, files = t.snapshot()
    assert all(e.rows is not None for e in files)  # write survived
    touched, _ = t._touched(Q.all_of().when("k", "a"))
    assert touched  # file with "a" kept
    assert t.read().count() == 3


def test_float_literal_does_not_misprune_int_partition(spark):
    """Type-coerced literals: spec year == 2020.0 must still touch the
    year=2020 directory (string-exact matching would prune everything and
    silently no-op the mutation)."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_coerce_")
    t = TransactionalTable(spark, root, partition_cols=("year",))
    t.append(
        spark.createDataFrame([(1, 2020, 1.0), (2, 2021, 2.0)],
                              "event_id long, year int, value double")
    )
    t.delete_by_spec(Q.all_of().when("year", 2020.0))
    got = [r.event_id for r in t.read().collect()]
    assert got == [2]


def test_merge_empty_batch_is_noop(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_mempty_")
    t = TransactionalTable(spark, root)
    t.append(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    v = t.latest_version()
    empty = spark.createDataFrame([], "k long, v double")
    assert t.merge_by_key(empty, ["k"]) == v  # no commit, no rewrite
    assert t.latest_version() == v


# ------------------------------------------------- checkpoints / restore / CDF

def test_checkpoint_bounds_cold_replay(spark):
    """After `checkpoint_interval` commits a checkpoint file exists, and a
    COLD instance reconstructs the same snapshot while parsing only the
    commits after the checkpoint (the O(1)-GET cold-read property)."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root, checkpoint_interval=5)
    for i in range(7):
        t.append(spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("event_id")))
    ckpts = glob.glob(os.path.join(root, "_txlog", "*.checkpoint.json"))
    assert len(ckpts) == 1 and ckpts[0].endswith("00000000000000000005.checkpoint.json")
    assert os.path.exists(os.path.join(root, "_txlog", "_last_checkpoint"))
    # cold reader: correct snapshot...
    cold = TransactionalTable(spark, root, checkpoint_interval=5)
    assert cold.read().count() == 70
    # ...built without opening pre-checkpoint commit files
    import unittest.mock as mock

    cold2 = TransactionalTable(spark, root, checkpoint_interval=5)
    opened = []
    orig = TransactionalTable._apply_commit

    def spy(state, v, path):
        opened.append(v)
        return orig(state, v, path)

    with mock.patch.object(TransactionalTable, "_apply_commit", staticmethod(spy)):
        cold2.snapshot()
    assert opened == [6, 7]


def test_checkpoint_time_travel_before_checkpoint(spark):
    """Historical reads BEFORE the checkpoint still replay correctly (the
    log is never truncated by checkpointing)."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root, checkpoint_interval=3)
    for i in range(5):
        t.append(spark.range(10).select(F.col("id").alias("event_id")))
    assert t.read(version=2).count() == 20
    assert t.read(version=4).count() == 40
    cold = TransactionalTable(spark, root, checkpoint_interval=3)
    assert cold.read(version=2).count() == 20


def test_checkpoint_preserves_stats_and_txn_markers(spark):
    """Zone maps, Blooms, row counts, and idempotent txn markers survive a
    checkpoint round-trip — a cold reader prunes and dedups identically."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root, stats_cols=("event_id",), checkpoint_interval=2)
    # coalesce(2): a 32-slice range writes empty part files (no rows → no
    # stats recorded), which is correct behavior but not what this asserts
    t.append(_events(spark, 30).coalesce(2), txn_app="job", txn_version=1)
    t.append(_events(spark, 30).coalesce(2), txn_app="job", txn_version=2)  # commit 2 → checkpoint
    cold = TransactionalTable(spark, root, stats_cols=("event_id",), checkpoint_interval=2)
    assert cold.last_txn_version("job") == 2
    assert cold.count_rows() == 60  # per-file rows survived
    _, files = cold.snapshot()
    assert all(e.stats and "event_id" in e.stats for e in files)
    # replayed txn version is a no-op on the cold instance too
    before = cold.latest_version()
    cold.append(_events(spark, 5), txn_app="job", txn_version=2)
    assert cold.latest_version() == before


def test_restore_is_metadata_only_and_roundtrips(spark):
    t = _mk(spark)  # v1: 60 rows
    v1 = t.latest_version()
    hashes_before = _file_hashes(t)
    t.delete_by_spec(Q.all_of().when("event_type", "t0"))
    t.append(_events(spark, 10))
    assert t.read().count() == 50
    data_files_before_restore = set(_file_hashes(t))
    t.restore(v1)
    assert t.read().count() == 60
    # metadata-only: no new data files were written by the restore
    after = _file_hashes(t)
    assert set(after) == data_files_before_restore
    # v1's files are byte-identical to their originals
    for p, h in hashes_before.items():
        assert after[p] == h
    # restore is itself history: rolling forward again works
    t.restore(t.latest_version() - 1)
    assert t.read().count() == 50


def test_restore_raises_after_vacuum(spark):
    t = _mk(spark)
    v1 = t.latest_version()
    t.overwrite(_events(spark, 5))
    t.vacuum(retain_snapshots=1, min_age_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(v1)


def test_read_changes_appends_exact(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root)
    t.append(spark.range(10).select(F.col("id").alias("event_id")))
    v1 = t.latest_version()
    t.append(spark.range(10, 25).select(F.col("id").alias("event_id")))
    t.append(spark.range(25, 30).select(F.col("id").alias("event_id")))
    ch = t.read_changes(v1)
    assert ch.count() == 20
    assert {r._change_op for r in ch.select("_change_op").distinct().collect()} == {"append"}
    # versioned consumption: second batch only
    assert t.read_changes(v1, v1 + 1).count() == 15
    # nothing new → empty frame with the right schema
    empty = t.read_changes(t.latest_version())
    assert empty.count() == 0 and "_commit_version" in empty.columns


def test_read_changes_rewrites_guarded(spark):
    t = _mk(spark)
    v1 = t.latest_version()
    t.update_by_spec(Q.all_of().when("event_type", "t1"), U.update().set("value", 99.0))
    with pytest.raises(ValueError, match="include_rewrites"):
        t.read_changes(v1)
    post = t.read_changes(v1, include_rewrites=True)
    # post-image of the touched partition only
    assert {r.event_type for r in post.select("event_type").distinct().collect()} == {"t1"}
    assert post.count() == 20
    # maintenance commits are skipped, not re-emitted
    v2 = t.latest_version()
    t.compact(target_files_per_partition=1)
    assert t.read_changes(v2).count() == 0


def test_read_changes_schema_evolution_aligns(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root)
    t.append(spark.range(5).select(F.col("id").alias("event_id")))
    v1 = t.latest_version()
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("event_id"), F.lit("new").alias("tag")
        )
    )
    ch = t.read_changes(0)  # includes the pre-evolution commit
    assert set(ch.columns) == {"event_id", "tag", "_commit_version", "_change_op"}
    old_rows = ch.filter(F.col("_commit_version") == v1).collect()
    assert all(r.tag is None for r in old_rows)


def test_zorder_optimize_skips_files_on_both_dimensions(spark):
    """Z-order clustering makes BOTH columns' zone maps selective: a
    narrow range on either dimension prunes most files from log metadata,
    where a lexicographic sort only serves its leading column."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root, stats_cols=("a", "b"))
    # two independent pseudo-uniform dimensions, many input files
    df = spark.range(4096).repartition(16).select(
        ((F.col("id") * 2654435761) % 1000).alias("a"),
        ((F.col("id") * 7919 + 13) % 1000).alias("b"),
        F.col("id").alias("payload"),
    )
    t.append(df)
    t.optimize(["a", "b"], files_per_range=1, zorder=True)
    _, active = t.snapshot()
    total = len(active)
    assert total >= 8  # enough files for pruning to mean something

    def touched(col):
        spec = Q.all_of().range_closed_closed(col, 100, 160)
        return len(t._prune_files(active, spec))

    # each dimension alone prunes to well under half the files
    assert touched("a") <= total // 2, (touched("a"), total)
    assert touched("b") <= total // 2, (touched("b"), total)
    # data intact
    assert t.read().count() == 4096
    assert t.read().agg(F.sum("payload")).collect()[0][0] == 4096 * 4095 // 2


def test_zorder_rejects_strings_and_checks_bits(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_")
    t = TransactionalTable(spark, root)
    t.append(spark.range(10).select(F.col("id").alias("a"), F.lit("x").alias("s")))
    with pytest.raises(ValueError, match="z-order"):
        t.optimize(["a", "s"], zorder=True)
    with pytest.raises(ValueError, match="62 bits"):
        t.optimize(["a", "a", "a"], zorder=True, zorder_bits=21)


def test_run_incremental_exactly_once(spark):
    """Incremental ETL loop: each run consumes only new source commits,
    reruns are marker-detected no-ops, and maintenance-only ranges don't
    advance or commit anything."""
    from aleph2_contrib_spark.sources.txlog import run_incremental

    src = TransactionalTable(spark, tempfile.mkdtemp(prefix="a2s_inc_src_"))
    dst = TransactionalTable(spark, tempfile.mkdtemp(prefix="a2s_inc_dst_"))
    double = lambda df: df.select("event_id", (F.col("event_id") * 2).alias("doubled"))

    src.append(spark.range(10).select(F.col("id").alias("event_id")))
    src.append(spark.range(10, 20).select(F.col("id").alias("event_id")))
    assert run_incremental(src, dst, "etl", double) == 2
    assert dst.read().count() == 20
    # nothing new → no-op, no empty commits
    v = dst.latest_version()
    assert run_incremental(src, dst, "etl", double) is None
    assert dst.latest_version() == v
    # a third source batch is consumed alone (O(batch), not O(table))
    src.append(spark.range(20, 25).select(F.col("id").alias("event_id")))
    assert run_incremental(src, dst, "etl", double) == 3
    assert dst.read().count() == 25
    assert dst.read().filter(F.col("doubled") == 48).count() == 1
    # maintenance-only range: compact emits no logical changes
    src.compact(target_files_per_partition=1)
    assert run_incremental(src, dst, "etl", double) is None


def test_run_incremental_merge_keys(spark):
    """merge_keys: re-delivered keys REPLACE rather than duplicate, and a
    crash-replay (same source version rerun) cannot double-apply."""
    from aleph2_contrib_spark.sources.txlog import run_incremental

    src = TransactionalTable(spark, tempfile.mkdtemp(prefix="a2s_inc_src_"))
    dst = TransactionalTable(spark, tempfile.mkdtemp(prefix="a2s_inc_dst_"))
    src.append(
        spark.range(5).select((F.col("id") % 3).alias("k"), F.col("id").alias("x"))
    )
    latest = lambda df: df.groupBy("k").agg(F.max("x").alias("x"))
    assert run_incremental(src, dst, "mv", latest, merge_keys=("k",)) == 1
    assert dst.read().count() == 3
    # same keys again with new values: replaced, not appended
    src.append(
        spark.range(100, 103).select((F.col("id") % 3).alias("k"), F.col("id").alias("x"))
    )
    assert run_incremental(src, dst, "mv", latest, merge_keys=("k",)) == 2
    got = {r.k: r.x for r in dst.read().collect()}
    assert len(got) == 3 and all(v >= 100 for v in got.values())
    # crash-replay: marker already records v2 → merge is a no-op commit-wise
    before = dst.latest_version()
    dst.merge_by_key(
        src.read_changes(1, 2).drop("_commit_version", "_change_op")
        .groupBy("k").agg(F.max("x").alias("x")),
        ["k"], txn_app="mv", txn_version=2,
    )
    assert dst.latest_version() == before


def test_model_based_lifecycle_with_restore_and_checkpoints(spark):
    """Model-based fuzz over the FULL lifecycle: append / update / delete /
    restore / compact under an aggressive checkpoint interval, verified
    against an in-memory model after every step — by the warm instance
    AND by a cold instance (which replays via checkpoints). Restore picks
    an arbitrary committed version, so checkpoint-seeded historical
    replay and metadata-only rollback are exercised in interleavings no
    hand-written case covers."""
    import random

    rng = random.Random(20260814)
    root = tempfile.mkdtemp(prefix="a2s_txlog_model2_")
    t = TransactionalTable(spark, root, partition_cols=("event_type",), checkpoint_interval=3)
    model: dict[int, tuple[str, float]] = {}
    models_by_version: dict[int, dict] = {}
    next_id = 0

    def table_state(tab):
        return {r.event_id: (r.event_type, r.value) for r in tab.read().collect()}

    for step in range(14):
        op = rng.choice(
            ["append", "update", "delete", "restore", "compact"] if model else ["append"]
        )
        if op == "append":
            n = rng.randint(1, 6)
            rows = [
                (next_id + i, f"t{rng.randint(0, 2)}", float(rng.randint(0, 9)))
                for i in range(n)
            ]
            next_id += n
            t.append(spark.createDataFrame(rows, "event_id long, event_type string, value double"))
            for i, ty, v in rows:
                model[i] = (ty, v)
        elif op == "update":
            ty = f"t{rng.randint(0, 2)}"
            delta = float(rng.randint(1, 5))
            t.update_by_spec(
                Q.all_of().when("event_type", ty), U.update().increment("value", delta)
            )
            model = {
                k: (mt, mv + delta) if mt == ty else (mt, mv)
                for k, (mt, mv) in model.items()
            }
        elif op == "delete":
            cut = float(rng.randint(0, 12))
            t.delete_by_spec(Q.all_of().range_above("value", cut, inclusive=True))
            model = {k: v for k, v in model.items() if v[1] < cut}
        elif op == "restore":
            target = rng.choice(sorted(models_by_version))
            t.restore(target)
            model = dict(models_by_version[target])
        else:  # compact: layout-only, logical contents must not move
            t.compact(target_files_per_partition=1)
        models_by_version[t.latest_version()] = dict(model)
        assert table_state(t) == model, f"warm divergence after step {step} ({op})"
        if step % 4 == 3:
            cold = TransactionalTable(
                spark, root, partition_cols=("event_type",), checkpoint_interval=3
            )
            assert table_state(cold) == model, f"cold divergence after step {step} ({op})"


def test_concurrent_appenders_serialize_through_log(spark):
    """Two real threads appending through SEPARATE table instances: the
    exclusive-create commit protocol must serialize them — every commit
    gets a distinct version, no rows are lost, and no retry error leaks.
    (Spark sessions are thread-safe; each thread drives its own jobs.)"""
    import threading

    root = tempfile.mkdtemp(prefix="a2s_txlog_race_")
    TransactionalTable(spark, root).append(
        spark.range(1).select(F.col("id").alias("x"))
    )
    errors = []

    def writer(offset):
        try:
            mine = TransactionalTable(spark, root)
            for i in range(5):
                mine.append(
                    spark.range(offset + i * 10, offset + i * 10 + 10)
                    .select(F.col("id").alias("x")).coalesce(1)
                )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(1000,))
    t2 = threading.Thread(target=writer, args=(2000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errors == []
    t = TransactionalTable(spark, root)
    assert t.read().count() == 1 + 100  # nothing lost
    versions = [v for v, _ in t._commits()]
    assert versions == sorted(set(versions))  # strictly increasing, no dups
    assert len(versions) == 11  # 1 seed + 10 appends, each its own commit


def test_disjoint_mutation_conflict_retries_and_commits(spark):
    """Optimistic concurrency for PROVABLY DISJOINT rewrites: a mutation
    whose version reservation is stolen by a commit touching OTHER files
    must retry onto the next version and succeed — only a race that
    removed one of the files this transaction rewrites may raise.
    Deterministic forced-stale variant (the threaded test below drives the
    same path end-to-end through the public API)."""
    t = _mk(spark)
    rv = t.latest_version()
    schema, _ = t.snapshot()
    touched_t1, _ = t._touched(Q.all_of().when("event_type", "t1"))
    # a racing writer updates a DISJOINT partition, consuming version rv+1
    t2 = TransactionalTable(spark, t.root, partition_cols=t.partition_cols)
    t2.update_by_spec(Q.all_of().when("event_type", "t2"), U.update().set("value", 99.0))
    # stale-read_version commit of the t1 rewrite: collides at rv+1, sees
    # its files still active, retries cleanly onto rv+2
    v = t._commit(
        "update_by_spec", [], [e.path for e in touched_t1], schema,
        expect_active=[e.path for e in touched_t1], read_version=rv,
    )
    assert v == rv + 2


def test_concurrent_disjoint_updates_both_commit(spark):
    """VERDICT r4 item 6's Done criterion: two threads updating DISJOINT
    partitions through separate table instances both commit without any
    caller-visible error, and both updates land."""
    import threading

    root = tempfile.mkdtemp(prefix="a2s_txlog_dupd_")
    TransactionalTable(spark, root, partition_cols=("event_type",)).append(
        _events(spark, 60)
    )
    errors = []

    def updater(part, val):
        try:
            mine = TransactionalTable(spark, root, partition_cols=("event_type",))
            for _ in range(3):
                mine.update_by_spec(
                    Q.all_of().when("event_type", part),
                    U.update().increment("value", val),
                )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    th1 = threading.Thread(target=updater, args=("t0", 100.0))
    th2 = threading.Thread(target=updater, args=("t1", 1000.0))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert errors == []
    t = TransactionalTable(spark, root, partition_cols=("event_type",))
    got = {
        r["event_type"]: r["mn"]
        for r in t.read().groupBy("event_type").agg(F.min("value").alias("mn")).collect()
    }
    assert got["t0"] >= 300.0 and got["t1"] >= 3000.0 and got["t2"] < 7.0
    versions = [v for v, _ in t._commits()]
    assert versions == sorted(set(versions)) and len(versions) == 7  # seed + 6 updates


def test_vacuum_trims_old_checkpoints(spark):
    root = tempfile.mkdtemp(prefix="a2s_txlog_ckvac_")
    t = TransactionalTable(spark, root, checkpoint_interval=2)
    row = spark.range(3).select(F.col("id").alias("x")).coalesce(1)
    for _ in range(9):  # checkpoints at v2, v4, v6, v8
        t.append(row)
    assert len(t._checkpoints()) == 4
    t.vacuum(retain_snapshots=2, min_age_seconds=0.0)
    kept = [v for v, _ in t._checkpoints()]
    assert kept == [6, 8]
    # replay still correct from every angle
    cold = TransactionalTable(spark, root, checkpoint_interval=2)
    assert cold.read().count() == 27
    assert cold.read(version=3).count() == 9  # pre-trimmed-checkpoint history


def test_changefeed_vacuum_race_raises_not_drops(spark):
    """VERDICT r5 item 4: read_changes racing a vacuum must surface an
    error, never silently lose rows. Two deterministic interleavings:

    (a) vacuum BEFORE the feed is built → the commit-walk existence check
        (txlog.py read_changes missing-file guard) raises with a
        'vacuumed' pointer;
    (b) vacuum AFTER the feed resolved its paths but BEFORE execution →
        the Spark scan itself fails (ignoreMissingFiles=false default),
        not an empty/short result."""
    t = _mk(spark)
    v1 = t.latest_version()
    t.append(_events(spark, 12))
    # retire v1's files, then vacuum them away past the grace window
    t.overwrite(_events(spark, 6))
    t.vacuum(retain_snapshots=1, min_age_seconds=0)

    # (a) feed built after the vacuum: loud, attributable failure
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read_changes(from_version=0)

    # (b) feed built BEFORE the vacuum, executed after: the plan's file
    # list is stale; execution must error, not return fewer rows
    t2 = _mk(spark)
    t2.append(_events(spark, 12))
    feed = t2.read_changes(from_version=0)  # resolves paths now
    t2.overwrite(_events(spark, 6))
    t2.vacuum(retain_snapshots=1, min_age_seconds=0)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        feed.count()
    assert not isinstance(ei.value, AssertionError)
    # Spark surfaces the missing file; accept any error type but require
    # the cause to be the deleted file, not a wrong count
    assert "FileNotFound" in str(ei.value) or "does not exist" in str(ei.value)


def test_restore_vacuum_race_raises_not_corrupts(spark):
    """restore() racing a vacuum: restoring to a snapshot whose files were
    vacuumed must raise (metadata-only restore would otherwise commit
    pointers to deleted bytes); the live table stays intact."""
    t = _mk(spark)
    v1 = t.latest_version()
    t.overwrite(_events(spark, 6))
    t.vacuum(retain_snapshots=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(v1)
    # the failed restore committed nothing and the table still reads
    assert t.read().count() == 6
    assert t._commits()[-1][0] == t.latest_version()


def test_changefeed_vacuum_thread_race_never_short_counts(spark):
    """Threaded form: a consumer repeatedly reading the full change feed
    while a writer rewrites + vacuums. Every successful read must carry
    the EXACT per-commit row counts (12 per append commit it covers);
    failures must be loud errors, never short results."""
    import threading

    t = _mk(spark, n=12)
    for _ in range(2):
        t.append(_events(spark, 12))
    v_appends = t.latest_version()  # feed range = the 3 append commits only
    results, errors = [], []
    stop = threading.Event()

    def consumer():
        mine = TransactionalTable(spark, t.root, partition_cols=t.partition_cols)
        while not stop.is_set():
            try:
                n = mine.read_changes(from_version=0, to_version=v_appends).count()
            except Exception as e:
                errors.append(e)
                continue
            results.append(n)

    def writer():
        mine = TransactionalTable(spark, t.root, partition_cols=t.partition_cols)
        for _ in range(3):
            mine.overwrite(_events(spark, 6))
            mine.vacuum(retain_snapshots=1, min_age_seconds=0)
        stop.set()

    c = threading.Thread(target=consumer)
    w = threading.Thread(target=writer)
    c.start(); w.start(); w.join(); c.join()
    # every successful full-feed read saw all three 12-row appends intact
    assert all(n == 36 for n in results)
    # racing reads may fail loudly — but only with the vacuumed/missing
    # diagnostics, never a silent partial count
    for e in errors:
        msg = str(e)
        assert "vacuum" in msg or "FileNotFound" in msg or "does not exist" in msg


# -- apply_cdc ------------------------------------------------------------


def _cdc(spark, rows):
    """rows: (k, val, op, seq)"""
    return spark.createDataFrame(rows, "k long, val string, op string, seq long")


def test_apply_cdc_last_op_per_key_wins_within_batch(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    t.apply_cdc(
        _cdc(spark, [
            (1, "a1", "u", 1), (1, "a2", "u", 5), (1, "zzz", "u", 3),  # last=a2
            (2, "b1", "u", 1), (2, "gone", "d", 9),                    # last=delete
            (3, "c1", "d", 1), (3, "c2", "u", 2),                      # delete then upsert
        ]),
        key_cols=["k"],
    )
    got = {r.k: (r.val, r.seq) for r in t.read().collect()}
    assert got == {1: ("a2", 5), 3: ("c2", 2)}


def test_apply_cdc_null_op_errors_instead_of_deleting(spark):
    # NULL op must raise: the three-valued upsert filter would otherwise
    # silently turn a malformed row into a delete of its key
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    t.apply_cdc(_cdc(spark, [(1, "a1", "u", 1)]), key_cols=["k"])
    with pytest.raises(ValueError, match="NULL value in op column"):
        t.apply_cdc(_cdc(spark, [(1, "a2", None, 2)]), key_cols=["k"])
    assert {r.k: r.val for r in t.read().collect()} == {1: "a1"}


def test_apply_cdc_cross_batch_replay_equals_last_writer_wins(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    b1 = [(1, "v1", "u", 1), (2, "w1", "u", 2), (3, "x1", "u", 3)]
    b2 = [(2, "", "d", 4), (3, "x2", "u", 5), (4, "y1", "u", 6)]
    b3 = [(2, "w2", "u", 7), (4, "", "d", 8)]
    t.apply_cdc(_cdc(spark, b1), key_cols=["k"])
    t.apply_cdc(_cdc(spark, b2), key_cols=["k"])
    t.apply_cdc(_cdc(spark, b3), key_cols=["k"])
    got = {r.k: r.val for r in t.read().collect()}
    # global last op per key: 1→v1, 2→w2 (deleted then re-upserted),
    # 3→x2, 4 deleted last
    assert got == {1: "v1", 2: "w2", 3: "x2"}


def test_apply_cdc_is_one_commit_and_strips_op_col(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root)
    v0 = t.latest_version()
    t.apply_cdc(_cdc(spark, [(1, "a", "u", 1), (2, "b", "d", 1)]), key_cols=["k"])
    assert t.latest_version() == v0 + 1
    assert sorted(t.read().columns) == ["k", "seq", "val"]


def test_apply_cdc_idempotent_txn_markers(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root)
    batch = _cdc(spark, [(1, "a", "u", 1)])
    t.apply_cdc(batch, key_cols=["k"], txn_app="cdc", txn_version=0)
    v = t.latest_version()
    # a foreachBatch retry re-delivers the same batch_id: must be a no-op
    t.apply_cdc(
        _cdc(spark, [(1, "DIFFERENT", "u", 99)]),
        key_cols=["k"], txn_app="cdc", txn_version=0,
    )
    assert t.latest_version() == v
    assert [r.val for r in t.read().collect()] == ["a"]


def test_apply_cdc_empty_batch_is_noop(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root)
    t.apply_cdc(_cdc(spark, [(1, "a", "u", 1)]), key_cols=["k"])
    v = t.latest_version()
    t.apply_cdc(_cdc(spark, []), key_cols=["k"])
    assert t.latest_version() == v


def test_apply_cdc_prunes_untouched_files_by_zone_map(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    t.apply_cdc(_cdc(spark, [(i, f"lo{i}", "u", 1) for i in range(5)]).coalesce(1),
                key_cols=["k"])
    t.apply_cdc(_cdc(spark, [(i, f"hi{i}", "u", 2) for i in range(100, 105)]).coalesce(1),
                key_cols=["k"])
    before = _file_hashes(t)
    # touches only the high-key range: the low file must stay byte-identical
    t.apply_cdc(_cdc(spark, [(101, "hi101b", "u", 3)]).coalesce(1), key_cols=["k"])
    after = _file_hashes(t)
    shared = set(before) & set(after)
    assert any(before[p] == after[p] for p in shared), "low-key file was rewritten"
    got = {r.k: r.val for r in t.read().collect()}
    assert got[101] == "hi101b" and got[0] == "lo0"


def test_apply_cdc_empty_batch_commits_nothing(spark):
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    t.apply_cdc(_cdc(spark, [(1, "a1", "u", 1)]), key_cols=["k"])
    v = t.latest_version()
    assert t.apply_cdc(_cdc(spark, []), key_cols=["k"]) == v
    assert t.latest_version() == v


def test_apply_cdc_rewrites_only_files_in_the_key_bounds(spark):
    """One probe aggregate gives apply_cdc its key bounds: a batch whose
    keys all lie in one file's zone map leaves the other file as is, and
    the table ends as the batch's last-writer-wins result."""
    root = tempfile.mkdtemp(prefix="a2s_cdc_")
    t = TransactionalTable(spark, root, stats_cols=("k",))
    t.append(_cdc(spark, [(k, f"a{k}", "u", 0) for k in range(1, 11)]).drop("op").coalesce(1))
    t.append(_cdc(spark, [(k, f"b{k}", "u", 0) for k in range(100, 111)]).drop("op").coalesce(1))
    _, before = t.snapshot()
    far = next(e for e in before if e.stats["k"][0] == 100)
    t.apply_cdc(
        _cdc(spark, [(1, "x1", "u", 1), (2, "", "d", 1), (5, "x5", "u", 1), (5, "y5", "u", 2)]),
        key_cols=["k"],
    )
    _, after = t.snapshot()
    assert far.path in {e.path for e in after}
    want = {k: f"a{k}" for k in range(1, 11)} | {k: f"b{k}" for k in range(100, 111)}
    want.update({1: "x1", 5: "y5"})
    del want[2]
    assert {r.k: r.val for r in t.read().collect()} == want


# -- Bloom sizing -----------------------------------------------------------


def _legacy_bloom_hex(values) -> str:
    """The fixed 1024-bit, k=4 filter logs carried before per-file sizing."""
    bits = 0
    for v in values:
        for j in range(4):
            bits |= 1 << (int(hashlib.md5(f"{j}:{v}".encode()).hexdigest()[:8], 16) % 1024)
    return f"{bits:x}"


def _legacy_may_contain(hex_bits: str, v) -> bool:
    bits = int(hex_bits, 16)
    return all(
        (bits >> (int(hashlib.md5(f"{j}:{v}".encode()).hexdigest()[:8], 16) % 1024)) & 1
        for j in range(4)
    )


def test_bloom_sized_to_file_prunes_absent_ids(spark):
    """A 6,250-row file (the size that saturated the fixed 1,024-bit
    filter) skips at least 95% of absent-id probes and never a present
    id."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_bloomsize_")
    t = TransactionalTable(spark, root, bloom_cols=("_id",))
    t.append(
        spark.range(6250)
        .select(F.concat(F.lit("r"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("_id"))
        .coalesce(1)
    )
    _, files = t.snapshot()
    assert len(files) == 1 and files[0].rows == 6250
    kept = sum(
        bool(t._prune_files(files, Q.all_of().when("_id", f"x{i:08d}"))) for i in range(1000)
    )
    assert kept <= 50, kept
    for i in range(0, 6250, 25):
        assert t._prune_files(files, Q.all_of().when("_id", f"r{i:08d}")), i


def test_legacy_1024_bit_bloom_entries_still_prune(spark):
    """A log entry written before per-file sizing (1,024-bit hex, no m/k)
    prunes exactly as the old filter did."""
    import json

    root = tempfile.mkdtemp(prefix="a2s_txlog_legacy_")
    t = TransactionalTable(spark, root, bloom_cols=("event_id",))
    for start in (0, 1):
        t.append(
            spark.range(60).select((F.col("id") * 2 + start).alias("event_id")).coalesce(1)
        )
    for log in sorted(glob.glob(os.path.join(root, "_txlog", "0*.json"))):
        with open(log) as f:
            rec = json.load(f)
        for a in rec["add"]:
            a.pop("bloom_m", None)
            a.pop("bloom_k", None)
            ids = [r.event_id for r in spark.read.parquet(os.path.join(root, a["path"])).collect()]
            a["bloom"] = {"event_id": _legacy_bloom_hex(ids)}
        with open(log, "w") as f:
            json.dump(rec, f)
    cold = TransactionalTable(spark, root, bloom_cols=("event_id",))
    _, files = cold.snapshot()
    assert all(e.bloom_m is None for e in files)
    for v in range(-50, 250):
        want = sorted(
            e.path for e in files
            if _legacy_may_contain(e.bloom["event_id"], v)
        )
        got = sorted(e.path for e in cold._prune_files(files, Q.all_of().when("event_id", v)))
        assert got == want, v
    # the owning file is always among them
    assert len(cold._prune_files(files, Q.all_of().when("event_id", 7))) >= 1
    assert cold.read().filter(F.col("event_id") == 7).count() == 1


def test_get_object_by_id_reads_only_files_whose_bloom_admits_it(spark, monkeypatch):
    """get_object_by_id goes through the log-pruned read: on a 40-file
    table a lookup scans at most 2 files, not the snapshot."""
    root = tempfile.mkdtemp(prefix="a2s_txlog_lookup_")
    t = TransactionalTable(spark, root, bloom_cols=("_id",))
    t.append(
        spark.range(4000)
        .select(
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("_id"),
            F.col("id").alias("v"),
        )
        .repartition(40)
    )
    _, files = t.snapshot()
    assert len(files) >= 40
    svc = CrudService(spark, table=t)
    scanned = []
    read = t.read

    def spy(*args, **kwargs):
        df = read(*args, **kwargs)
        scanned.append(len(df.inputFiles()))
        return df

    monkeypatch.setattr(t, "read", spy)
    for i in (0, 17, 1999, 3999):
        scanned.clear()
        assert svc.get_object_by_id(f"r{i}") == {"_id": f"r{i}", "v": i}
        assert scanned and max(scanned) <= 2, scanned
        assert len(t.read_pruned(Q.all_of().when("_id", f"r{i}")).inputFiles()) <= 2
    assert svc.get_object_by_id("absent") is None
