"""Frequent-itemset mining (Apriori levels 1-3) over (transaction, item)
pairs — the classic market-basket operator the reference's basket analytics
(pair lift, `operators/events.py:162`) stops short of; extends the same
event-derived baskets to support-pruned itemsets of size up to 3.

Scale design: the naive formulation enumerates every k-subset of every
transaction — O(Σ |t| choose k), a combinatorial explosion at 100 TB. The
Apriori downward-closure property is applied INSIDE the joins instead:

- level 1 is one partial-aggregated groupBy;
- level-2 pair enumeration only joins items that survived level 1 (a
  broadcast semi-join prunes the self-join inputs BEFORE the pair blowup);
- level-3 extension only grows occurrences of frequent PAIRS (semi-join on
  L2), and every extension is checked against BOTH of its other sub-pairs
  (full Apriori pruning) before it is ever counted.

Every join is on txn_id — one co-partitioned shuffle domain — and the
frequent-set side of each semi-join is support-bounded (≤ n_txns / minsup
entries), so Spark broadcasts it. No per-transaction subset explosion ever
materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hybrid import collect_under, index_nodes, run_offsets


def _frequent_itemsets_driver(tx: DataFrame, pdf, minsup: int, max_size: int):
    """Vectorized driver-side Apriori over ``pdf``, the collected distinct
    (txn, item) stream ``tx`` — the same level-wise counting as the
    distributed joins (L1 support filter, within-transaction ordered
    pairs, pair-frequent extension with downward closure), so the
    itemsets and exact integer supports are identical by construction.
    Item comparisons use index order (``index_nodes`` sorts), which equals Spark's UTF8 binary order (UTF-8
    preserves code-point order). Returns None if the within-transaction
    pair expansion would blow the driver-array budget (caller falls back
    to the distributed joins, which spill instead)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = tx.sparkSession
    item_type = tx.schema["__i"].dataType
    out_schema = T.StructType(
        [
            T.StructField("size", T.IntegerType(), False),
            T.StructField("i1", item_type),
            T.StructField("i2", item_type),
            T.StructField("i3", item_type),
            T.StructField("support", T.LongType()),
        ]
    )

    def _result(frames):
        allf = pd.concat(frames, ignore_index=True)
        return spark.createDataFrame(allf, schema=out_schema)

    items_all, icode = index_nodes(pdf["__i"])
    _, tcode = index_nodes(pdf["__t"])
    ni = np.int64(len(items_all))
    # L1
    isup = np.bincount(icode, minlength=int(ni))
    l1_mask = isup >= minsup
    none_i = pd.Series([None] * int(l1_mask.sum()), dtype=object)
    frames = [
        pd.DataFrame(
            {
                "size": np.int32(1),
                "i1": items_all[l1_mask],
                "i2": none_i,
                "i3": none_i,
                "support": isup[l1_mask].astype(np.int64),
            }
        )
    ]
    if max_size == 1:
        return _result(frames)
    # prune to frequent items, sort by (txn, item) for run expansion
    keep = l1_mask[icode]
    Tc, Ic = tcode[keep], icode[keep]
    order = np.lexsort((Ic, Tc))
    Tc, Ic = Tc[order], Ic[order]
    pos = np.arange(len(Tc), dtype=np.int64)
    rend = np.searchsorted(Tc, Tc, side="right")
    remaining = rend - pos - 1
    total_pairs = int(remaining.sum())
    if total_pairs > 300_000_000:
        return None
    firsts = np.repeat(pos, remaining)
    seconds = firsts + 1 + run_offsets(remaining)
    pcode = Ic[firsts] * ni + Ic[seconds]
    up, cp = np.unique(pcode, return_counts=True)
    l2_mask = cp >= minsup
    l2_codes, l2_sup = up[l2_mask], cp[l2_mask].astype(np.int64)
    none_2 = pd.Series([None] * len(l2_codes), dtype=object)
    frames.append(
        pd.DataFrame(
            {
                "size": np.int32(2),
                "i1": items_all[l2_codes // ni],
                "i2": items_all[l2_codes % ni],
                "i3": none_2,
                "support": l2_sup,
            }
        )
    )
    if max_size == 2:
        return _result(frames)
    # L3: extend only occurrences of frequent pairs with items after i2
    # in the same transaction; both remaining sub-pairs must be frequent
    pidx = np.searchsorted(l2_codes, pcode)
    pidx_c = np.minimum(pidx, max(len(l2_codes) - 1, 0))
    occ_keep = (
        (l2_codes[pidx_c] == pcode) if len(l2_codes) else np.zeros(len(pcode), bool)
    )
    f2, s2 = firsts[occ_keep], seconds[occ_keep]
    rem3 = rend[s2] - s2 - 1
    total3 = int(rem3.sum())
    if total3 > 300_000_000:
        return None
    if total3:
        pf = np.repeat(f2, rem3)
        ps = np.repeat(s2, rem3)
        pt = ps + 1 + run_offsets(rem3)
        c13 = Ic[pf] * ni + Ic[pt]
        c23 = Ic[ps] * ni + Ic[pt]

        def _member(c):
            if not len(l2_codes):
                return np.zeros(len(c), bool)
            ix = np.minimum(np.searchsorted(l2_codes, c), len(l2_codes) - 1)
            return l2_codes[ix] == c

        m3 = _member(c13) & _member(c23)
        pf, ps, pt = pf[m3], ps[m3], pt[m3]
        # dense pair rank keeps the triple key inside int64 for any ni
        prank = np.searchsorted(l2_codes, Ic[pf] * ni + Ic[ps]).astype(np.int64)
        tkey = prank * ni + Ic[pt]
        ut, ct = np.unique(tkey, return_counts=True)
        l3_mask = ct >= minsup
        ut, ct = ut[l3_mask], ct[l3_mask].astype(np.int64)
        tp = l2_codes[ut // ni]
        frames.append(
            pd.DataFrame(
                {
                    "size": np.int32(3),
                    "i1": items_all[tp // ni],
                    "i2": items_all[tp % ni],
                    "i3": items_all[ut % ni],
                    "support": ct,
                }
            )
        )
    return _result(frames)


def frequent_itemsets(
    transactions: DataFrame,
    txn_col: str = "txn_id",
    item_col: str = "item",
    minsup: int = 2,
    max_size: int = 3,
    driver_cap_rows: int = 2_000_000,
) -> DataFrame:
    """Support-pruned frequent itemsets of size 1..``max_size`` (≤ 3).

    ``transactions``: one row per (transaction, item); duplicates are
    collapsed (set semantics — an item counts once per transaction).
    Returns (size, i1, i2, i3, support) with NULL padding for the unused
    item slots; items within a set are ordered ``i1 < i2 < i3`` so each
    itemset appears exactly once.
    """
    if minsup < 1:
        raise ValueError(f"minsup must be >= 1, got {minsup}")
    if not 1 <= max_size <= 3:
        raise ValueError(f"max_size must be in 1..3, got {max_size}")

    tx = transactions.select(
        F.col(txn_col).alias("__t"), F.col(item_col).alias("__i")
    ).distinct()
    pdf = collect_under(tx, driver_cap_rows)
    if pdf is not None:
        out = _frequent_itemsets_driver(tx, pdf, minsup, max_size)
        if out is not None:
            return out

    l1 = (
        tx.groupBy("__i")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
    )
    out = l1.select(
        F.lit(1).alias("size"),
        F.col("__i").alias("i1"),
        F.lit(None).cast("string").alias("i2"),
        F.lit(None).cast("string").alias("i3"),
        "support",
    )
    if max_size == 1:
        return out

    # prune the transaction stream to frequent items BEFORE any self-join:
    # this is the level-1 Apriori cut, and it is the difference between
    # joining the raw stream and joining only its frequent subset
    f1 = l1.select("__i")
    txf = tx.join(F.broadcast(f1), "__i").select("__t", "__i")

    a, b = txf.alias("a"), txf.alias("b")
    pair_occ = a.join(b, "__t").filter(F.col("a.__i") < F.col("b.__i")).select(
        "__t", F.col("a.__i").alias("i1"), F.col("b.__i").alias("i2")
    )
    l2 = (
        pair_occ.groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
    )
    out = out.unionByName(
        l2.select(
            F.lit(2).alias("size"),
            "i1",
            "i2",
            F.lit(None).cast("string").alias("i3"),
            "support",
        )
    )
    if max_size == 2:
        return out

    # level 3: extend only occurrences of FREQUENT pairs (semi-join on L2),
    # and require both remaining sub-pairs (i1,i3) and (i2,i3) frequent —
    # downward closure applied before the count, not after
    f2 = l2.select("i1", "i2")
    p2 = pair_occ.join(F.broadcast(f2), ["i1", "i2"], "left_semi")
    ext = (
        p2.join(txf.alias("c"), "__t")
        .filter(F.col("c.__i") > F.col("i2"))
        .select("__t", "i1", "i2", F.col("c.__i").alias("i3"))
        .join(
            F.broadcast(f2.select(F.col("i1"), F.col("i2").alias("i3"))),
            ["i1", "i3"],
            "left_semi",
        )
        .join(
            F.broadcast(f2.select(F.col("i1").alias("i2"), F.col("i2").alias("i3"))),
            ["i2", "i3"],
            "left_semi",
        )
    )
    l3 = (
        ext.groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
    )
    return out.unionByName(l3.select(F.lit(3).alias("size"), "i1", "i2", "i3", "support"))


def frequent_itemsets_oracle_sql(txn_sql: str, minsup: int, max_size: int = 3) -> str:
    """DuckDB replica of :func:`frequent_itemsets`. ``txn_sql`` must yield
    (txn_id, item); same Apriori joins spelled in ANSI SQL."""
    if not 1 <= max_size <= 3:
        raise ValueError(f"max_size must be in 1..3, got {max_size}")
    sql = f"""
WITH tx AS MATERIALIZED (SELECT DISTINCT txn_id AS t, item AS i FROM ({txn_sql})),
l1 AS MATERIALIZED (
    SELECT i, count(*) AS support FROM tx GROUP BY i HAVING count(*) >= {minsup}
),
txf AS MATERIALIZED (SELECT tx.t, tx.i FROM tx JOIN l1 ON tx.i = l1.i),
pair_occ AS MATERIALIZED (
    SELECT a.t, a.i AS i1, b.i AS i2
    FROM txf a JOIN txf b ON a.t = b.t AND a.i < b.i
),
l2 AS MATERIALIZED (
    SELECT i1, i2, count(*) AS support FROM pair_occ
    GROUP BY i1, i2 HAVING count(*) >= {minsup}
),
l3 AS MATERIALIZED (
    SELECT p.i1, p.i2, c.i AS i3, count(*) AS support
    FROM pair_occ p
    JOIN l2 ON p.i1 = l2.i1 AND p.i2 = l2.i2
    JOIN txf c ON c.t = p.t AND c.i > p.i2
    WHERE EXISTS (SELECT 1 FROM l2 x WHERE x.i1 = p.i1 AND x.i2 = c.i)
      AND EXISTS (SELECT 1 FROM l2 x WHERE x.i1 = p.i2 AND x.i2 = c.i)
    GROUP BY p.i1, p.i2, c.i HAVING count(*) >= {minsup}
)
SELECT 1 AS size, i AS i1, CAST(NULL AS VARCHAR) AS i2, CAST(NULL AS VARCHAR) AS i3,
       support FROM l1
"""
    if max_size >= 2:
        sql += (
            "UNION ALL SELECT 2, i1, i2, CAST(NULL AS VARCHAR), support FROM l2\n"
        )
    if max_size >= 3:
        sql += "UNION ALL SELECT 3, i1, i2, i3, support FROM l3\n"
    return sql


def association_rules(
    transactions: DataFrame,
    txn_col: str = "txn_id",
    item_col: str = "item",
    minsup: int = 2,
    min_conf_ppm: int = 0,
) -> DataFrame:
    """Association rules ``antecedent -> consequent`` from frequent itemsets
    of size 2 and 3 (:func:`frequent_itemsets`), with EXACT integer-ppm
    confidence and lift so results are bit-stable across engines:

    - ``conf_ppm``  = floor(1e6 * sup(A∪C) / sup(A))
    - ``lift_ppm``  = floor(1e6 * n_txns * sup(A∪C) / (sup(A) * sup(C)))

    Output: one row per rule with comma-joined sorted item lists
    (antecedent, consequent, sup_rule, sup_ante, sup_cons, conf_ppm,
    lift_ppm), filtered to ``conf_ppm >= min_conf_ppm``.

    Scale design: rule generation never revisits the transaction stream —
    every rule is a constant number of equi-joins between the L1/L2/L3
    frequent-set tables, each support-bounded at ≤ n_txns / minsup rows, so
    all subset-support lookups broadcast. Pair rules need one L1 join per
    side; triple rules join their three sub-pair supports from L2 and three
    item supports from L1. This mirrors the classic Apriori rule phase: the
    expensive counting was already paid in :func:`frequent_itemsets`.

    Lifecycle note: the frequent-itemset table is persisted (it feeds nine
    lazily-planned joins) and stays cached until the session drops it or the
    caller runs ``spark.catalog.clearCache()`` — unpersisting here would
    silently recompute L1-L3 once per downstream join, the same documented
    trade-off as ``dedup_against_corpus``.
    """
    tx = transactions.select(
        F.col(txn_col).alias("__t"), F.col(item_col).alias("__i")
    ).distinct()
    n_txns = tx.select(F.count_distinct("__t")).first()[0]

    fi = frequent_itemsets(
        transactions, txn_col, item_col, minsup=minsup, max_size=3
    ).persist()
    # materialize the cache NOW: the rules plan references fi from nine
    # independent broadcast-exchange subtrees that Spark launches
    # concurrently — against a lazy persist they race past the empty cache
    # and each recompute the full mining plan (measured 3.5x slower)
    fi.count()
    l1 = fi.filter(F.col("size") == 1).select(
        F.col("i1").alias("i"), F.col("support").alias("sup")
    )
    l2 = fi.filter(F.col("size") == 2).select("i1", "i2", "support")
    l3 = fi.filter(F.col("size") == 3).select("i1", "i2", "i3", "support")

    # Single-item and sub-pair support lookups all broadcast the SAME
    # DataFrame object (renames happen after the join): identical
    # broadcast subtrees canonicalize equal, so ReuseExchange builds ONE
    # broadcast for the five L1 lookups and ONE for the three L2 lookups
    # instead of nine independent broadcast-build jobs over the same
    # cached table (measured: the rule phase was ~60% of the gate).
    l1b = l1.select(F.col("i").alias("__k"), F.col("sup").alias("__s1"))
    l2b = l2.select(
        F.col("i1").alias("__a"), F.col("i2").alias("__b"), F.col("support").alias("__s2")
    )

    def _sup1(df, item_expr, out):
        return (
            df.join(F.broadcast(l1b), on=F.expr(item_expr) == F.col("__k"))
            .withColumnRenamed("__s1", out)
            .drop("__k")
        )

    def _splits(df, exprs):
        # one inline-exploded struct array per row: every (antecedent,
        # consequent) split of the itemset materializes in a SINGLE pass —
        # a union of per-split branches would re-evaluate the whole
        # support-join subtree once per split (measured 3x slower)
        struct_sql = ", ".join(
            f"struct({a} AS antecedent, {c} AS consequent, "
            f"support AS sup_rule, {sa} AS sup_ante, {sc} AS sup_cons)"
            for a, c, sa, sc in exprs
        )
        return df.select(
            F.expr(f"inline(array({struct_sql}))")
        )

    # pair rules: {x} -> {y} both directions
    pr = _sup1(_sup1(l2, "i1", "sup_1"), "i2", "sup_2")
    pair_rules = _splits(
        pr,
        [("i1", "i2", "sup_1", "sup_2"), ("i2", "i1", "sup_2", "sup_1")],
    )

    # triple rules: every (non-empty antecedent, non-empty consequent)
    # split; sub-pair supports from L2 (downward closure guarantees the
    # sub-pairs are present), single-item supports from L1
    t = _sup1(_sup1(_sup1(l3, "i1", "s1"), "i2", "s2"), "i3", "s3")
    for a, b, out in (("i1", "i2", "s12"), ("i1", "i3", "s13"), ("i2", "i3", "s23")):
        t = (
            t.join(
                F.broadcast(l2b),
                on=(F.col(a) == F.col("__a")) & (F.col(b) == F.col("__b")),
            )
            .withColumnRenamed("__s2", out)
            .drop("__a", "__b")
        )

    triple_rules = _splits(
        t,
        [
            ("i1", "concat(i2, ',', i3)", "s1", "s23"),
            ("i2", "concat(i1, ',', i3)", "s2", "s13"),
            ("i3", "concat(i1, ',', i2)", "s3", "s12"),
            ("concat(i1, ',', i2)", "i3", "s12", "s3"),
            ("concat(i1, ',', i3)", "i2", "s13", "s2"),
            ("concat(i2, ',', i3)", "i1", "s23", "s1"),
        ],
    )

    rules = pair_rules.unionByName(triple_rules)
    return rules.select(
        "antecedent",
        "consequent",
        "sup_rule",
        "sup_ante",
        "sup_cons",
        F.expr("1000000 * sup_rule div sup_ante").alias("conf_ppm"),
        F.expr(
            f"1000000 * CAST({n_txns} AS BIGINT) * sup_rule"
            " div (sup_ante * sup_cons)"
        ).alias("lift_ppm"),
    ).filter(F.col("conf_ppm") >= min_conf_ppm)


def association_rules_oracle_sql(
    txn_sql: str, minsup: int, min_conf_ppm: int = 0
) -> str:
    """DuckDB replica of :func:`association_rules` (same Apriori CTEs, same
    integer-ppm arithmetic)."""
    return f"""
WITH tx AS MATERIALIZED (SELECT DISTINCT txn_id AS t, item AS i FROM ({txn_sql})),
n AS MATERIALIZED (SELECT count(DISTINCT t) AS n_txns FROM tx),
l1 AS MATERIALIZED (
    SELECT i, count(*) AS support FROM tx GROUP BY i HAVING count(*) >= {minsup}
),
txf AS MATERIALIZED (SELECT tx.t, tx.i FROM tx JOIN l1 ON tx.i = l1.i),
pair_occ AS MATERIALIZED (
    SELECT a.t, a.i AS i1, b.i AS i2
    FROM txf a JOIN txf b ON a.t = b.t AND a.i < b.i
),
l2 AS MATERIALIZED (
    SELECT i1, i2, count(*) AS support FROM pair_occ
    GROUP BY i1, i2 HAVING count(*) >= {minsup}
),
l3 AS MATERIALIZED (
    SELECT p.i1, p.i2, c.i AS i3, count(*) AS support
    FROM pair_occ p
    JOIN l2 ON p.i1 = l2.i1 AND p.i2 = l2.i2
    JOIN txf c ON c.t = p.t AND c.i > p.i2
    WHERE EXISTS (SELECT 1 FROM l2 x WHERE x.i1 = p.i1 AND x.i2 = c.i)
      AND EXISTS (SELECT 1 FROM l2 x WHERE x.i1 = p.i2 AND x.i2 = c.i)
    GROUP BY p.i1, p.i2, c.i HAVING count(*) >= {minsup}
),
t3 AS (
    SELECT l3.*,
           a1.support AS s1, a2.support AS s2, a3.support AS s3,
           p12.support AS s12, p13.support AS s13, p23.support AS s23
    FROM l3
    JOIN l1 a1 ON a1.i = l3.i1
    JOIN l1 a2 ON a2.i = l3.i2
    JOIN l1 a3 ON a3.i = l3.i3
    JOIN l2 p12 ON p12.i1 = l3.i1 AND p12.i2 = l3.i2
    JOIN l2 p13 ON p13.i1 = l3.i1 AND p13.i2 = l3.i3
    JOIN l2 p23 ON p23.i1 = l3.i2 AND p23.i2 = l3.i3
),
rules AS (
    SELECT a1.i AS antecedent, a2.i AS consequent,
           l2.support AS sup_rule, a1.support AS sup_ante, a2.support AS sup_cons
    FROM l2 JOIN l1 a1 ON a1.i = l2.i1 JOIN l1 a2 ON a2.i = l2.i2
    UNION ALL
    SELECT a2.i, a1.i, l2.support, a2.support, a1.support
    FROM l2 JOIN l1 a1 ON a1.i = l2.i1 JOIN l1 a2 ON a2.i = l2.i2
    UNION ALL SELECT i1, i2 || ',' || i3, support, s1, s23 FROM t3
    UNION ALL SELECT i2, i1 || ',' || i3, support, s2, s13 FROM t3
    UNION ALL SELECT i3, i1 || ',' || i2, support, s3, s12 FROM t3
    UNION ALL SELECT i1 || ',' || i2, i3, support, s12, s3 FROM t3
    UNION ALL SELECT i1 || ',' || i3, i2, support, s13, s2 FROM t3
    UNION ALL SELECT i2 || ',' || i3, i1, support, s23, s1 FROM t3
)
SELECT antecedent, consequent, sup_rule, sup_ante, sup_cons,
       (1000000 * sup_rule) // sup_ante AS conf_ppm,
       (1000000 * (SELECT n_txns FROM n) * sup_rule) // (sup_ante * sup_cons)
           AS lift_ppm
FROM rules
WHERE (1000000 * sup_rule) // sup_ante >= {min_conf_ppm}
"""
