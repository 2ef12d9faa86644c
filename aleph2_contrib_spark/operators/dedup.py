"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

The reference's dedup support is declarative-only (deduplication_fields forced
to exact representation, ElasticsearchIndexUtils.java:236-251, consumed by the
graph merge path TitanGraphBuildingUtils.java:328-374). Here dedup is a
first-class operator family, all pure DataFrame ops (JVM-side, codegen):

- exact_dedup:      hash-groupBy on key columns; one shuffle on the key.
- minhash_lsh:      shingle → minhash signature → banded LSH buckets →
                    candidate pairs → exact Jaccard verify. Shuffles only on
                    band buckets (candidates), never all-pairs.
- simhash:          64-bit sign fingerprint over token hashes; near-dup =
                    same band prefix + Hamming distance ≤ t.
- ngram_jaccard:    exact n-gram Jaccard on candidate pairs (verification
                    primitive, also usable standalone with a blocking key).

Scale notes: all-pairs comparison is O(n²) and never materialized — LSH
banding keeps the join keyed on (band_id, band_hash), so the shuffle volume
is O(n · bands) and skew is bounded by bucket size. At 100 TB the signature
computation is a narrow pass (no shuffle); only candidate generation
shuffles. No Python UDFs anywhere in this module.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hybrid import collect_under, index_nodes


def exact_dedup(
    df: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    keep: str = "first",
) -> DataFrame:
    """Keep one row per key combination. With ``order_col``, keeps the
    first/last by that order (deterministic); without, keeps an arbitrary
    row (``dropDuplicates`` — cheapest, map-side partial aggregation).

    One shuffle on the key columns. For 100 TB, pre-bucketing the table on
    the dedup key makes this shuffle-free.
    """
    if order_col is None:
        return df.dropDuplicates(keys)
    direction = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
    w = Window.partitionBy(*keys).orderBy(direction)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint = md5 of normalized text.
    (md5 rather than xxhash64 so external systems can reproduce it.)"""
    return F.md5(normalize_text(col))


def char_shingles(col: Column, k: int = 5) -> Column:
    """All k-character shingles of the normalized text (array<string>).
    Pure Catalyst: sequence + transform + substring, no Python."""
    norm = normalize_text(col)
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k)))


def token_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>)."""
    toks = F.split(normalize_text(col), " ")
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), cnt - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def token_hashes(col: Column) -> Column:
    """One xxhash64 per whitespace token of the normalized text
    (array<bigint>) — the narrow base pass for hash-combined shingling."""
    return F.transform(F.split(normalize_text(col), " "), lambda t: F.xxhash64(t))


def shingle_hashes_from_token_hashes(th: Column, n: int = 3) -> Column:
    """Word n-gram shingle hashes WITHOUT building shingle strings: each
    shingle hash is the multi-arg xxhash64 of n consecutive token hashes —
    pure long math, no per-shingle string allocation (~7x cheaper cold than
    ``token_shingles`` + per-string hashing; same estimator semantics,
    since token-hash n-grams collide only where token n-grams do, ~2^-64).

    ``th`` must be a MATERIALIZED column (projected under its own alias in
    a previous select), not an inline expression — it is referenced n
    times here, and CollapseProject only keeps non-cheap expressions
    un-inlined when they sit behind a projection boundary.
    ``try_element_at`` keeps docs shorter than n tokens safe under ANSI
    (missing positions hash as absent)."""
    cnt = F.greatest(F.size(th) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.xxhash64(*[F.try_element_at(th, i + j) for j in range(n)]),
    )


def _reseed(i: int):
    """Permutation i of the MinHash family: re-hash the precomputed
    64-bit shingle hash with seed column i — xxhash64 over (long, int) is
    a few ALU ops in the JVM, no string re-hashing, and (unlike an affine
    multiply) safe under ANSI overflow checking."""
    return lambda h: F.xxhash64(h, F.lit(i))


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature (array<bigint> of length num_hashes).

    Cost model matters at scale: each shingle is string-hashed ONCE
    (xxhash64), then the num_hashes permutations are cheap long
    multiply-adds over the hash array — ~100x less hashing than
    re-hashing strings per seed. One narrow projection, no Python."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    sigs = [F.array_min(F.transform(base, _reseed(i))) for i in range(num_hashes)]
    return F.array(*sigs)


# -- numpy fast path: bit-exact replica of Spark's XXH64 ---------------------
# Catalyst evaluates higher-order functions interpreted (no codegen), so the
# 64-permutation signature pass is the hot spot. This pandas-UDF path computes
# the IDENTICAL signatures (verified bit-for-bit in tests) with vectorized
# uint64 numpy: base = hashLong(h, 42) once, then hashInt(i, base) for all i
# as one (n_shingles × num_hashes) matrix-min. Same plan shape (narrow pass),
# ~5x faster; Arrow moves only the long arrays.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_sig_batch(hs_list, num_hashes: int):
    import numpy as np

    with np.errstate(over="ignore"):
        P1, P2, P3, P4, P5 = (np.uint64(p) for p in (_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5))

        def rotl(x, r):
            r = np.uint64(r)
            return (x << r) | (x >> (np.uint64(64) - r))

        def fmix(h):
            h ^= h >> np.uint64(33)
            h *= P2
            h ^= h >> np.uint64(29)
            h *= P3
            h ^= h >> np.uint64(32)
            return h

        seeds = np.arange(num_hashes, dtype=np.uint64)
        # Vectorize across the WHOLE Arrow batch: per-row numpy dispatch on
        # tiny arrays costs ~1ms/row; one flat matrix + segmented min via
        # np.minimum.reduceat is ~50x faster for short documents.
        lens = np.fromiter((len(a) for a in hs_list), dtype=np.int64, count=len(hs_list))
        if lens.sum() == 0:
            return [[0] * num_hashes for _ in hs_list]
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hs_list if len(a)]
        ).astype(np.uint64)
        # hashLong(h, 42) for every shingle hash
        k1 = rotl(flat * P2, 31) * P1
        b = (np.uint64(42) + P5 + np.uint64(8)) ^ k1
        b = rotl(b, 27) * P1 + P4
        b = fmix(b)
        # hashInt(i, base) for every permutation i: (total, num_hashes)
        m = (b[:, None] + P5 + np.uint64(4)) ^ (seeds[None, :] * P1)
        m = rotl(m, 23) * P2 + P3
        m = fmix(m).astype(np.int64)  # min over SIGNED longs (array_min)
        nonempty = lens > 0
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
        mins = np.minimum.reduceat(m, offsets, axis=0)
        out, j = [], 0
        for n in lens:
            if n == 0:
                out.append([0] * num_hashes)
            else:
                out.append(mins[j].tolist())
                j += 1
        return out


def minhash_signature_numpy(df: DataFrame, hs_col: str, num_hashes: int = 64) -> DataFrame:
    """Add a ``sig`` column computed by the numpy fast path (bit-identical
    to ``minhash_signature`` over the same hash array)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def sig_fn(hs):
        return pd.Series(_np_sig_batch(hs, num_hashes))

    sig_udf = pandas_udf(sig_fn, "array<long>")
    return df.withColumn("sig", sig_udf(F.col(hs_col)))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (treated as sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    shingle_mode: str = "char",  # char | token
    verify: str = "exact",  # exact | estimate
    sig_impl: str = "expr",  # expr (pure Catalyst) | numpy (Arrow fast path)
    driver_cap_shingles: int = 2_000_000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Plan shape (the part that matters at 100 TB):
      1. narrow pass: shingles → one xxhash64 per shingle → signature via
         num_hashes affine permutations (cheap long math, no re-hashing)
      2. explode to (band_id, band_hash) — bands·n rows
      3. self-join on (band_id, band_hash) = the ONLY shuffle, keyed on
         bucket; AQE splits skewed buckets
      4. distinct candidate pairs, then Jaccard verify:
         - verify="exact": exact Jaccard on the distinct shingle-hash sets
           (collision-safe to ~2^-64; arrays shuffle with the candidates)
         - verify="estimate": matching-minhash fraction — only the
           (num_hashes)-long signatures travel through the join. At corpus
           scale this is the default trade: shuffle volume drops from
           O(doc_len) to O(num_hashes) per row.
    """
    base = _minhash_base(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
        shingle_mode=shingle_mode, sig_impl=sig_impl,
    )
    if driver_cap_shingles:
        # Hybrid fast path: signatures are already computed by the (cached,
        # parallel) base pass; the band explode + self-join + verify joins
        # are fixed job latency when the shingle-hash volume fits one
        # driver collect. Band buckets group on the RAW signature slice —
        # band_hash equality minus the astronomically unlikely (≈2^-64)
        # xxhash collision, which exact verify would reject anyway. The
        # stats probe doubles as the cache materializer.
        stats = base.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("hs")).alias("m")
        ).first()
        if (stats["m"] or 0) <= int(driver_cap_shingles):
            out = _minhash_pairs_driver(base, num_hashes, bands, threshold, verify)
            if out is not None:
                return out
    banded = _band_keys(base, num_hashes, bands)
    cand_ids = (
        banded.select(F.col("id").alias("id_a"), "band_id", "band_hash")
        .join(
            banded.select(F.col("id").alias("id_b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _fetch_and_verify(cand_ids, base, base, threshold, verify, num_hashes)


def _minhash_pairs_driver(
    base: DataFrame, num_hashes: int, bands: int, threshold: float, verify: str
):
    """Driver-exact replica of band join + verify over the collected base:
    same r-row band grouping (on raw signature slices), same candidate
    pair set (id_a < id_b), same size pre-filter and float jaccard as the
    distributed ``_fetch_and_verify``. Returns None if the bucket pair
    volume exceeds the driver budget (caller falls back to the joins)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = base.sparkSession
    id_type = base.schema["id"].dataType
    pdf = base.select("id", "hs", "sig").toPandas()
    n = len(pdf)
    ids = pdf["id"].to_numpy()
    hs_lists = pdf["hs"].tolist()
    S = (
        np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sig"].tolist()])
        if n
        else np.zeros((0, num_hashes), dtype=np.int64)
    )
    rpb = num_hashes // bands
    n64 = np.int64(max(n, 1))

    def _pairs_in_runs(sorted_rows, run_end_per_pos):
        """Emit i<j index pairs inside equal-key runs (run-expansion)."""
        pos = np.arange(len(sorted_rows), dtype=np.int64)
        remaining = run_end_per_pos - pos - 1
        total = int(remaining.sum())
        if total == 0:
            return None
        firsts = np.repeat(pos, remaining)
        offs = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(remaining) - remaining, remaining
        )
        seconds = firsts + 1 + offs
        return sorted_rows[firsts], sorted_rows[seconds]

    # candidate pairs: rows equal on a band's signature slice (same set as
    # the band_hash join minus ~2^-64 hash collisions, which verify kills)
    cand_codes = []
    total_bucket_pairs = 0
    for b in range(bands):
        cols = [S[:, b * rpb + r] for r in range(rpb)][::-1]
        order = np.lexsort(tuple(cols))
        key = S[order, b * rpb : (b + 1) * rpb]
        changed = np.any(key[1:] != key[:-1], axis=1) if len(key) > 1 else np.array([], bool)
        run_id = np.concatenate([[0], np.cumsum(changed)]) if len(key) else np.zeros(0, np.int64)
        run_end = np.searchsorted(run_id, run_id, side="right")
        remaining = run_end - np.arange(len(run_id)) - 1
        total_bucket_pairs += int(remaining.sum())
        if total_bucket_pairs > 200_000_000:
            return None
        got = _pairs_in_runs(order, run_end)
        if got is not None:
            pi, pj = got
            lo, hi = np.minimum(pi, pj), np.maximum(pi, pj)
            cand_codes.append(lo * n64 + hi)
    cand = (
        np.unique(np.concatenate(cand_codes)) if cand_codes else np.zeros(0, np.int64)
    )
    ci, cj = cand // n64, cand % n64
    thr = float(threshold)
    if verify == "exact":
        # exact |A∩B| for every pair sharing >= 1 hash, via postings
        # run-expansion (the same Σ C(df,2) volume the distributed
        # candidate join carries), then look candidates up
        lens = np.array([len(h) for h in hs_lists], dtype=np.int64)
        D = np.repeat(np.arange(n, dtype=np.int64), lens)
        H = (
            np.concatenate([np.asarray(h, dtype=np.int64) for h in hs_lists])
            if n and lens.sum()
            else np.zeros(0, np.int64)
        )
        order = np.lexsort((D, H))
        Hs, Ds = H[order], D[order]
        run_end = np.searchsorted(Hs, Hs, side="right")
        remaining = run_end - np.arange(len(Hs)) - 1
        if int(remaining.sum()) > 200_000_000:
            return None
        got = _pairs_in_runs(Ds, run_end)
        if got is not None:
            pi, pj = got
            share_codes, share_cnt = np.unique(
                np.minimum(pi, pj) * n64 + np.maximum(pi, pj), return_counts=True
            )
        else:
            share_codes = np.zeros(0, np.int64)
            share_cnt = np.zeros(0, np.int64)
        ix = (
            np.minimum(np.searchsorted(share_codes, cand), max(len(share_codes) - 1, 0))
            if len(share_codes)
            else np.zeros(len(cand), np.int64)
        )
        inter = np.where(
            (len(share_codes) > 0) & (share_codes[ix] == cand), share_cnt[ix], 0
        ).astype(np.int64) if len(cand) else np.zeros(0, np.int64)
        union = lens[ci] + lens[cj] - inter
        jac = np.where(union == 0, 1.0, inter / np.where(union == 0, 1, union))
    else:
        matches = (S[ci] == S[cj]).sum(axis=1).astype(np.int64)
        jac = matches / float(num_hashes)
    keep = (jac >= thr) & (ids[ci] != ids[cj])
    ci, cj, jac = ci[keep], cj[keep], jac[keep]
    swap = ids[ci] > ids[cj]
    ia = np.where(swap, cj, ci)
    ib = np.where(swap, ci, cj)
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "jaccard": jac}),
        schema=schema,
    )


def _minhash_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    shingle_k: int,
    shingle_mode: str,
    sig_impl: str,
    keep_txh: bool = False,
) -> DataFrame:
    """(id[, __txh], hs, sig) for every document, PERSISTED: the banded
    projection and the verify join-backs all reuse it; without the
    materialization barrier Spark would recompute the shingle+signature
    chain per use. ``keep_txh`` additionally carries the whole-text hash
    (for signature stores, whose exact-dup stage reads it back)."""
    from pyspark import StorageLevel

    from aleph2_contrib_spark.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    extra = (
        [F.xxhash64(F.lower(F.trim(F.col(text_col)))).alias("__txh")] if keep_txh else []
    )
    if shingle_mode == "token":
        # token mode never builds shingle strings: token hashes once
        # (projection boundary), then n-gram hashes as pure long math.
        hashed = df.select(
            F.col(id_col).alias("id"), *extra, token_hashes(F.col(text_col)).alias("th")
        ).select(
            "id",
            *(["__txh"] if keep_txh else []),
            F.array_distinct(shingle_hashes_from_token_hashes(F.col("th"), 3)).alias("hs"),
        )
    else:
        hashed = df.select(
            F.col(id_col).alias("id"), *extra, char_shingles(F.col(text_col), shingle_k).alias("sh")
        ).withColumn(
            # materialized hash array: each shingle string-hashed exactly once
            "hs", F.array_distinct(F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
        )
    if sig_impl == "numpy":
        base = minhash_signature_numpy(hashed, "hs", num_hashes)
    else:
        base = hashed.withColumn(
            "sig",
            F.array(
                *[
                    F.array_min(F.transform(F.col("hs"), _reseed(i)))
                    for i in range(num_hashes)
                ]
            ),
        )
    return base.persist(StorageLevel.MEMORY_AND_DISK)


def _band_keys(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) — the band join carries ONLY these slim
    keys, never the signature or shingle arrays. At 100 TB the explode
    multiplies every carried byte by ``bands`` (64×), so wide payloads are
    fetched AFTER candidate-pair dedup via join-back against the persisted
    base: each doc's array then crosses the shuffle once per surviving
    pair side, not 64× per band row."""
    rows_per_band = num_hashes // bands
    return base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def _fetch_and_verify(
    cand_ids: DataFrame,
    base_a: DataFrame,
    base_b: DataFrame,
    threshold: float,
    verify: str,
    num_hashes: int,
) -> DataFrame:
    """Payload fetch + similarity verify for candidate (id_a, id_b) pairs.

    Physical fetch strategy, decided from a cheap stats probe over the
    persisted bases (one tiny agg job each): when a payload table fits a
    broadcast budget, broadcast it — candidate pairs then never re-shuffle
    and each executor resolves that side map-side. Otherwise fall back to
    shuffle joins, where each doc's payload crosses the wire once per
    surviving pair side (the 100 TB default — candidate selectivity at
    production thresholds keeps that volume far below the bands× explode
    alternative). This matters because low-threshold configs can yield
    |pairs| >> |docs|: shuffling pairs×arrays would dwarf every other
    stage.
    """
    _BROADCAST_PAYLOAD_CAP = 256 << 20
    payload = "hs" if verify == "exact" else "sig"

    def _fits_broadcast(base: DataFrame) -> bool:
        # Row count is metadata-cheap (parquet/table stats or the persisted
        # block sizes). Average payload length, in preference order:
        # - sig payload: structurally num_hashes — no scan at all;
        # - hs with the store's precomputed n_hs scalar: EXACT avg over a
        #   cheap int column (no array decompress);
        # - else a hash-SPREAD sample (~2048 rows selected by id hash, so
        #   it cannot be fooled by length-sorted storage the way a
        #   partition-order limit() prefix can — review finding: a
        #   length-sorted store made the prefix underestimate by orders of
        #   magnitude and wrongly broadcast a multi-GB side, which is an
        #   OOM, not just a strategy flip).
        n = base.count()
        if n == 0:
            return False
        if payload == "sig":
            avg_len = float(num_hashes)
        elif "n_hs" in base.columns:
            avg_len = (
                base.agg(F.avg("n_hs").alias("avg_len")).collect()[0]["avg_len"]
                or 0.0
            )
        else:
            step = max(1, n // 2048)
            s = (
                base.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(step)) == 0)
                .select(F.size(F.col(payload)).alias("l"))
                .agg(F.avg("l").alias("avg_len"))
                .collect()[0]
            )
            avg_len = s["avg_len"] or 0.0
        est_bytes = int(n * avg_len * 8 * 1.3)
        return bool(est_bytes) and est_bytes < _BROADCAST_PAYLOAD_CAP

    fits_a = _fits_broadcast(base_a)
    # self-join case: both sides are the same persisted base — one probe
    fits_b = fits_a if base_b is base_a else _fits_broadcast(base_b)

    def _n_col(base: DataFrame):
        # precomputed scalar length (signature stores write n_hs at build
        # time) beats size(hs), which decompresses the array column
        return F.col("n_hs") if "n_hs" in base.columns else F.size(F.col("hs"))

    side_a = base_a.select(F.col("id").alias("id_a"), F.col(payload).alias(f"{payload}_a"))
    side_b = base_b.select(F.col("id").alias("id_b"), F.col(payload).alias(f"{payload}_b"))
    if verify == "exact":
        # carry the size WITH the payload: one decode + one broadcast/
        # shuffle per side instead of separate sizes- and payload-joins
        # (the separate sizes broadcast decoded the corpus array column a
        # second time on EVERY incremental run — the round-5 hotspot)
        side_a = base_a.select(
            F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), _n_col(base_a).alias("n_a")
        )
        side_b = base_b.select(
            F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), _n_col(base_b).alias("n_b")
        )
    if fits_a:
        side_a = F.broadcast(side_a)
    if fits_b:
        side_b = F.broadcast(side_b)
    # AQE coalesces the post-dedup candidates to very few partitions (the
    # slim rows are only a few MB), which would then run the payload fetch
    # and the O(|doc|) per-pair similarity at that tiny parallelism.
    # Re-spread the slim pairs first — a cheap shuffle of 16-byte rows.
    nparts = cand_ids.sparkSession.sparkContext.defaultParallelism
    cand_ids = cand_ids.repartition(nparts, "id_a")

    if verify == "exact":
        # Exact-preserving candidate cut before the set intersection: j ≥ t
        # implies |A∩B| ≥ t·|A∪B|, hence min(|A|,|B|)/max(|A|,|B|) ≥ t.
        # With broadcast sides the filter is map-side and costs nothing
        # extra; in shuffle mode the arrays of size-filtered pairs still
        # cross once (a deliberate trade: a separate scalar-only prejoin
        # would decode/shuffle the corpus payload table twice — measured
        # slower at every tested scale unless selectivity is extreme).
        # Union size comes from |A|+|B|−|A∩B| rather than materializing
        # array_union (halves the per-pair set work).
        cand = (
            cand_ids.join(side_a, "id_a")
            .join(side_b, "id_b")
            .filter(
                F.least(F.col("n_a"), F.col("n_b"))
                >= F.lit(threshold) * F.greatest(F.col("n_a"), F.col("n_b"))
            )
        )
        inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
        union = F.col("n_a") + F.col("n_b") - inter
        sim_col = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    else:
        cand = cand_ids.join(side_a, "id_a").join(side_b, "id_b")
        sim_col = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ) / F.lit(num_hashes)
    return (
        cand.withColumn("jaccard", sim_col)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


class MinHashSignatureStore:
    """Persisted MinHash signatures of a historical corpus — the steady-
    state half of incremental dedup. The corpus side's signatures are
    computed ONCE (a daily/weekly maintenance job), written to two
    bucketed catalog tables, and every subsequent batch dedup signs only
    its OWN documents and band-joins the stored slim keys:

    - ``<prefix>_base``  (id, __txh, hs, sig), bucketed on id — payload
      fetch for the verify stage reads only the candidate ids' buckets.
    - ``<prefix>_bands`` (id, band_id, band_hash), bucketed AND sorted on
      (band_id, band_hash) — the bipartite band join reads this side
      pre-shuffled (no Exchange on the corpus side, the whole point at
      100 TB: per-day cost goes from O(corpus + batch) to O(batch)).

    ``append`` is the post-dedup maintenance op: survivors of today's
    batch are signed once and appended to both tables, so tomorrow's run
    sees them as corpus. Reference analog: the already-indexed store IS
    the reference's signature state (dedup-field prep against the live
    index, ElasticsearchIndexUtils.java:236-251); this class materializes
    the same state for an engine with no resident index.
    """

    def __init__(
        self,
        spark,
        prefix: str,
        *,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_k: int = 5,
        shingle_mode: str = "char",
        sig_impl: str = "expr",
        num_buckets: int = 32,
    ):
        self.spark = spark
        self.prefix = prefix
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.shingle_mode = shingle_mode
        self.sig_impl = sig_impl
        self.num_buckets = num_buckets
        self.base_table = f"{prefix}_base"
        self.bands_table = f"{prefix}_bands"

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.base_table) and self.spark.catalog.tableExists(
            self.bands_table
        )

    def _kw(self) -> dict:
        return dict(
            num_hashes=self.num_hashes,
            shingle_k=self.shingle_k,
            shingle_mode=self.shingle_mode,
            sig_impl=self.sig_impl,
        )

    def _write(self, df: DataFrame, id_col: str, text_col: str, mode: str) -> None:
        from aleph2_contrib_spark.sources.bucketed import write_bucketed

        base = _minhash_base(df, id_col, text_col, keep_txh=True, **self._kw())
        write_bucketed(
            # n_hs: precomputed payload length so incremental runs can
            # size-filter candidates without decompressing the hs arrays
            base.select("id", "__txh", "hs", "sig", F.size("hs").alias("n_hs")),
            self.base_table,
            ["id"],
            num_buckets=self.num_buckets,
            mode=mode,
        )
        write_bucketed(
            _band_keys(base, self.num_hashes, self.bands),
            self.bands_table,
            ["band_id", "band_hash"],
            num_buckets=self.num_buckets,
            mode=mode,
        )
        base.unpersist()

    def build(self, existing_df: DataFrame, id_col: str, text_col: str) -> "MinHashSignatureStore":
        """Sign the whole corpus and (re)write both tables."""
        self._write(existing_df, id_col, text_col, mode="overwrite")
        return self

    def append(self, new_docs_df: DataFrame, id_col: str, text_col: str) -> None:
        """Incremental maintenance: sign only the new documents and append
        (bucket specs match, so the append stays bucket-aligned)."""
        self._write(new_docs_df, id_col, text_col, mode="append")

    def base_df(self) -> DataFrame:
        return self.spark.table(self.base_table)

    def band_df(self) -> DataFrame:
        return self.spark.table(self.bands_table)


def dedup_against_corpus(
    new_df: DataFrame,
    existing_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    shingle_mode: str = "char",
    verify: str = "exact",
    sig_impl: str = "expr",
    store: MinHashSignatureStore | None = None,
) -> DataFrame:
    """Incremental corpus dedup: rows of ``new_df`` that are NOT (near-)
    duplicates of any document already in the corpus — the daily-crawl
    vs historical-corpus operation. Reference analog: dedup-field matching
    of a new batch against the already-indexed store (dedup-field prep at
    ElasticsearchIndexUtils.java:236-251; existing-element lookup shape at
    TitanGraphBuildingUtils.getGroupedVertices:328-374), generalized here
    from exact field equality to near-duplicate text similarity.

    The corpus side comes from either ``existing_df`` (signed on the fly —
    one-shot comparisons) or a :class:`MinHashSignatureStore` (``store=``,
    the steady-state path: the corpus is NEVER re-signed; its slim band
    keys stream out of a bucketed table pre-shuffled on the join key, so
    per-run cost is O(batch) regardless of corpus size). When a store is
    given, its signature parameters override the keyword arguments — the
    two sides must be signed identically for band hashes to collide.

    Plan shape: (1) cheap exact stage — anti-join on a whole-text hash
    removes byte-identical docs before any signature work; (2) bipartite
    band join (new × existing, slim keys only) proposes candidates;
    (3) exact-or-estimate verify as in ``minhash_lsh_pairs``; (4) anti-join
    drops new docs with any verified match.

    With bands == num_hashes (r=1) and verify="exact" the result is exact:
    a new doc survives iff no existing doc has Jaccard ≥ threshold.
    """
    if (existing_df is None) == (store is None):
        raise ValueError("pass exactly one of existing_df or store")
    if store is not None:
        num_hashes, bands = store.num_hashes, store.bands
        shingle_k, shingle_mode, sig_impl = store.shingle_k, store.shingle_mode, store.sig_impl

    txh = F.xxhash64(F.lower(F.trim(F.col(text_col))))
    if store is not None:
        # no dropDuplicates: LEFT ANTI semantics are identical against a
        # non-distinct right side, and the dedup would cost a full shuffle
        # of the corpus hash column on every incremental run
        exact_old = store.base_df().select("__txh")
    else:
        exact_old = existing_df.select(txh.alias("__txh"))
    # PERSISTED: ``fresh`` feeds both the signature chain and the final
    # anti-join — without the barrier the exact-dedup anti-join (a corpus
    # __txh scan) re-runs per consumer. The cache stays referenced by the
    # returned plan, so the operator cannot release it; blocks are
    # LRU-evictable (MEMORY_AND_DISK), but sessions running many batches
    # should materialize the result and spark.catalog.clearCache()
    # between batches to keep the storage pool clean.
    from pyspark import StorageLevel

    fresh = (
        new_df.withColumn("__txh", txh)
        .join(exact_old, "__txh", "left_anti")
        .drop("__txh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    kw = dict(num_hashes=num_hashes, shingle_k=shingle_k,
              shingle_mode=shingle_mode, sig_impl=sig_impl)
    new_base = _minhash_base(fresh, id_col, text_col, **kw)
    if store is not None:
        bd = store.base_df()
        # stores built before n_hs existed lack the column — degrade to size()
        old_base = bd.select(
            "id", "hs", "sig", *(["n_hs"] if "n_hs" in bd.columns else [])
        )
        old_bands = store.band_df()
    else:
        old_base = _minhash_base(existing_df, id_col, text_col, **kw)
        old_bands = _band_keys(old_base, num_hashes, bands)
    cand_ids = (
        _band_keys(new_base, num_hashes, bands)
        .select(F.col("id").alias("id_a"), "band_id", "band_hash")
        .join(
            old_bands.select(F.col("id").alias("id_b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    dupes = (
        _fetch_and_verify(cand_ids, new_base, old_base, threshold, verify, num_hashes)
        .select(F.col("id_a").alias(id_col))
        .dropDuplicates([id_col])
    )
    return fresh.join(dupes, id_col, "left_anti")


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates, keeping the lowest id of each connected pair
    (greedy: a doc is dropped if it pairs with any lower-id doc — one-pass
    approximation of connected components, standard for corpus dedup)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    to_drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_drop, on=id_col, how="left_anti")


def minhash_dedup_cc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Cluster-exact near-dup removal: LSH pairs → connected components →
    keep ONE representative (min id) per component, plus every singleton.

    The greedy ``minhash_dedup`` drops a doc iff it pairs with a lower id,
    which over-deletes on chain-shaped clusters (B~A and C~B but C≁A:
    greedy keeps only A; the cluster's diversity argues for judging C
    against its own representative, and standard corpus dedup — e.g. the
    MinHash stage of RefinedWeb/SlimPajama pipelines — deduplicates per
    CLUSTER). This variant closes the pair graph with the distributed
    pointer-jumping CC (O(log diameter) rounds) and keeps exactly one doc
    per cluster, annotated with ``dup_group_size`` (1 for singletons) so
    downstream sampling can reweight by how much near-duplicate mass each
    survivor represents.

    Plan shape: pairs cost = minhash_lsh_pairs (slim band-key shuffle);
    CC runs on the pair graph only (≪ corpus); survivors come from one
    left join on id (label table is tiny relative to the corpus — Spark
    broadcasts it when stats allow). No full-text shuffle anywhere.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    labels = connected_components(pairs, "id_a", "id_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("dup_group_size")
    )
    reps = labels.join(sizes, "component").select(
        F.col("node").alias(id_col),
        F.col("component").alias("__comp"),
        "dup_group_size",
    )
    return (
        df.join(reps, id_col, "left")
        .filter(F.col("__comp").isNull() | (F.col(id_col) == F.col("__comp")))
        .drop("__comp")
        .withColumn(
            "dup_group_size", F.coalesce(F.col("dup_group_size"), F.lit(1))
        )
    )


def blocked_token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[Column],
    threshold_f6: int,
) -> DataFrame:
    """Exact token-set Jaccard pairs (id_a < id_b, floor(j·1e6) ≥
    threshold_f6) within blocks, via per-block incidence-matrix matmul.

    Tokens are xxhash64-hashed JVM-side (narrow pass), so only long arrays
    shuffle — one shuffle, keyed on the block. Each block then builds a
    |docs| × |vocab| float32 incidence matrix and gets ALL pairwise
    intersection counts from a single BLAS matmul (~50x the per-pair
    hash-set intersection path). Counts ≤ 2^24 are exact in float32;
    union = deg_a + deg_b − inter; the jaccard is int/int in double —
    bit-identical to any engine computing the same rational.

    Scale notes: pair work is O(sum m_b²·vocab_b) — the block key must
    bound m_b (size bucket, LSH band, language). Blocks are independent
    tasks; skew is bounded by the largest block."""
    import numpy as np
    import pandas as pd

    from aleph2_contrib_spark.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    base = df.select(
        F.col(id_col).alias("id"),
        *[c.alias(f"__b{i}") for i, c in enumerate(block_cols)],
        F.array_distinct(
            F.transform(F.split(F.col(text_col), r"\s+"), lambda x: F.xxhash64(x))
        ).alias("toks"),
    )
    bcols = [f"__b{i}" for i in range(len(block_cols))]

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "j_f6"])
        ids = pdf["id"].to_numpy()
        lens = np.fromiter((len(t) for t in pdf["toks"]), dtype=np.int64, count=len(pdf))
        flat = np.concatenate([np.asarray(t, dtype=np.int64) for t in pdf["toks"]])
        vocab, cols = np.unique(flat, return_inverse=True)
        rows = np.repeat(np.arange(len(pdf)), lens)
        M = np.zeros((len(pdf), len(vocab)), dtype=np.float32)
        M[rows, cols] = 1.0
        inter = (M @ M.T).astype(np.int64)
        iu, ju = np.triu_indices(len(pdf), k=1)
        ic = inter[iu, ju]
        union = lens[iu] + lens[ju] - ic
        j_f6 = np.floor(ic / union * 1e6).astype(np.int64)
        keep = j_f6 >= threshold_f6
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo = np.minimum(ia, jb)
        hi = np.maximum(ia, jb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "j_f6": j_f6[keep]})

    id_type = df.schema[id_col].dataType.simpleString()
    return base.groupBy(*bcols).applyInPandas(
        score_block, schema=f"id_a {id_type}, id_b {id_type}, j_f6 long"
    )


def simhash(col: Column, num_bits: int = 64) -> Column:
    """SimHash fingerprint: per token, xxhash64 supplies num_bits bits; each
    bit votes +1/−1; fingerprint bit = sign of the vote sum. Expressed as
    pure aggregate expressions over the token array (no Python, no shuffle).
    """
    toks = F.split(normalize_text(col), " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bits = []
    for b in range(num_bits):
        # vote_b = sum over tokens of (bit_b(h) ? 1 : -1)
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b if b < 63 else -(2**63))) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(1 << b if b < 63 else -(2**63)))
    return reduce(lambda a, c: a.bitwiseOR(c), bits)


def simhash_md5(col: Column, num_bits: int = 60) -> Column:
    """Oracle-reproducible SimHash variant: token hash = first 15 hex chars
    of md5 (60 bits, fits a signed long), same vote/pack semantics as
    ``simhash``. Any engine with md5 + bit ops can recompute it exactly —
    the differential gate checks it against DuckDB."""
    toks = F.split(normalize_text(col), " ")
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    bits = []
    for b in range(num_bits):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )
        bits.append(
            F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(1 << b)
        )
    return reduce(lambda a, c: a.bitwiseOR(c), bits)


def _votes_pack_udf(num_bits: int):
    """Vectorized SimHash vote/pack as a pandas UDF over per-doc token-hash
    arrays: bit b of the output = sign of sum over tokens of (±1 by bit b)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def votes_fn(hs):
        out = np.empty(len(hs), dtype=np.int64)
        shifts = np.arange(num_bits, dtype=np.uint64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            if len(h) == 0:
                out[i] = 0
                continue
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = bits.sum(axis=0) * 2 - len(h)
            fp = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                fp |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(fp)
        return pd.Series(out)

    return pandas_udf(votes_fn, "long")


def simhash_numpy(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """Numpy fast path for SimHash: the token hashes are computed JVM-side
    (one xxhash64 per token), the 64-bit vote/pack runs vectorized in an
    Arrow batch. Bit-identical to ``simhash`` (asserted in tests)."""
    from aleph2_contrib_spark.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hashed = df.withColumn("__hs", F.transform(toks, lambda t: F.xxhash64(t)))
    return hashed.withColumn(out_col, _votes_pack_udf(64)(F.col("__hs"))).drop("__hs")


def simhash_md5_numpy(
    df: DataFrame, text_col: str, out_col: str = "simhash", num_bits: int = 60
) -> DataFrame:
    """Fast path for ``simhash_md5``: one JVM md5 per token, vectorized
    numpy vote/pack (bit-identical to the pure-Column form, asserted in
    tests). The pure-Column form evaluates num_bits interpreted aggregates
    per row — ~25x slower; this is the one to run at corpus scale."""
    from aleph2_contrib_spark.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hashed = df.withColumn(
        "__hs",
        F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")),
    )
    return hashed.withColumn(out_col, _votes_pack_udf(num_bits)(F.col("__hs"))).drop("__hs")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs_from_fingerprints(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "id",
    sh_col: str = "sh",
    num_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs from precomputed SimHash fingerprints: band the
    ``num_bits``-bit fingerprint into ``bands`` chunks, join on matching
    band, verify Hamming distance. With ``bands >= max_hamming + 1`` the
    pigeonhole principle makes recall EXACT (any pair within distance
    max_hamming must agree on at least one whole band) — this is a
    deterministic algorithm, not an approximation, which is what lets the
    differential gate oracle it. One shuffle, keyed on (band, value)."""
    if bands < max_hamming + 1:
        # fewer bands than max_hamming+1 is a legitimate recall-for-shuffle
        # trade, but the pigeonhole exactness guarantee is lost
        import warnings

        warnings.warn(
            f"bands={bands} < max_hamming+1={max_hamming + 1}: pigeonhole "
            "recall guarantee lost — pairs within the hamming budget can be "
            "missed (approximate mode)",
            stacklevel=2,
        )
    # distribute num_bits across bands (first num_bits % bands bands get an
    # extra bit) — unequal spans keep the pigeonhole guarantee
    base_w, extra = divmod(num_bits, bands)
    spans, start = [], 0
    for i in range(bands):
        w = base_w + (1 if i < extra else 0)
        spans.append((start, w))
        start += w
    banded = fps.select(
        F.col(id_col).alias("id"),
        F.col(sh_col).alias("sh"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sh_col), s).bitwiseAND(F.lit((1 << w) - 1))
                    for s, w in spans
                ]
            )
        ).alias("band_id", "band_val"),
    )
    left = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band_id", "band_val")
    right = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band_id", "band_val")
    return (
        left.join(right, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash over text (xxhash64 64-bit fingerprints);
    see ``simhash_pairs_from_fingerprints`` for the join shape."""
    from aleph2_contrib_spark.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    base = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh"))
    return simhash_pairs_from_fingerprints(
        base, max_hamming=max_hamming, bands=bands, num_bits=64
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → (node,
    component) where component = min node id reachable. The standard way to
    turn pairwise near-dup evidence into dedup clusters (keep one
    representative per component).

    HYBRID (``operators.hybrid``): the pair graph is persisted, and one
    bounded Arrow collect both probes it against the cap and fetches it
    (above the cap that collect is the materializing action the
    distributed path needs anyway). A near-dup pair graph is
    orders of magnitude smaller than its corpus (only documents with a
    close neighbor appear at all), so when it fits the
    ``driver_max_edges`` cap the components are solved exactly with a
    driver-side union-find (path compression + min-id representatives —
    microseconds per edge, no per-round Spark jobs). Above the cap the
    distributed path takes over; the two paths produce IDENTICAL labels
    (min reachable id), asserted in tests.

    DRIVER-MEMORY NOTE: the fast path collects up to ``driver_max_edges``
    edges onto the driver — at the 1M default that is two Arrow columns
    (16 MB of longs) plus the union-find's Python lists, sized for the
    1 GiB+ drivers typical of analytics clusters. On a memory-constrained
    driver pass a lower cap;
    pass ``driver_max_edges=0`` to DISABLE the driver path entirely and
    force the fully-distributed pointer-jumping loop regardless of size.

    Distributed path: min-label propagation with POINTER JUMPING — each
    round every node takes the min label among itself and its neighbors
    (one join + one groupBy), then each label is shortcut to its label's
    label (one more join) — path-compression halves chain depth every
    round, so convergence is O(log diameter) rounds even for long
    chain-shaped components, not O(diameter). Lineage is cut with
    localCheckpoint each round so the plan doesn't grow exponentially;
    convergence is detected by a changed-label count and the loop stops
    early.

    Raises RuntimeError if the loop exhausts ``max_iter`` without
    converging — returning partial labels would silently split clusters.
    With pointer jumping, the default 25 rounds covers diameters up to
    ~2^25; hitting the error means a pathological graph, not a tuning knob.
    """
    from pyspark import StorageLevel

    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pdf = collect_under(e, driver_max_edges)
    if pdf is not None:
        e.unpersist()
        return _union_find_local(pdf, e)
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    e.unpersist()

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the round's starting label through as __prev so
        # convergence is a narrow filter over the checkpointed frame —
        # NOT an extra labels-vs-labels shuffle join per round
        propagated = labels.join(
            neigh_min, labels.node == neigh_min.src, "left"
        ).select(
            "node",
            F.col("component").alias("__prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component <- component's own current label
        # (labels are node ids, so the label table doubles as the lookup)
        jump = propagated.select(
            F.col("node").alias("j_node"), F.col("component").alias("j_comp")
        )
        # lazy checkpoint: the convergence count below is a full-scan
        # action, so it materializes every block and cuts lineage in the
        # SAME job — one action per round, not checkpoint + count
        new_labels = (
            propagated.join(jump, propagated.component == jump.j_node, "left")
            .select(
                "node",
                "__prev",
                F.coalesce(F.col("j_comp"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(
            F.col("component") != F.col("__prev")
        ).count()
        labels = new_labels.drop("__prev")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has a pathologically deep component (pointer "
        "jumping converges in O(log diameter) rounds — diameter would "
        f"exceed ~2^{max_iter}). Inspect the input pairs or raise max_iter."
    )


def _union_find_local(pdf, e: DataFrame) -> DataFrame:
    """Exact driver-side components for a capped pair graph ``pdf``, the
    collected ``(src, dst)`` frame ``e``: classic union-find with path
    compression over contiguous node indices, representatives forced to
    the MIN index of each set. Index order is id order, so the output
    contract — component = min reachable id — matches the distributed
    path bit-for-bit. Output (node, component) keeps the input id type."""
    import pandas as pd
    from pyspark.sql import types as T

    nodes, src, dst = index_nodes(pdf["src"], pdf["dst"])
    parent = list(range(len(nodes)))

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the representative — determinism contract
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    id_type = e.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    comp = [find(i) for i in range(len(nodes))]
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "component": nodes[comp]}), schema
    )


# ---------------------------------------------------------------------------
# span-level exact dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
) -> DataFrame:
    """C4-style exact span dedup ACROSS the corpus: texts are chopped into
    consecutive non-overlapping ``span_tokens``-token spans; every span
    keeps only its FIRST global occurrence (ordered by (id, position)),
    and each document's text is reassembled from its surviving spans.
    This removes boilerplate repeated across documents (headers, license
    blocks, navigation chrome) that whole-document dedup can't touch —
    the standard span-granularity pass of LLM corpus prep, generalizing
    the reference's whole-record dedup-field matching
    (ElasticsearchIndexUtils.java:236-251) to intra-document granularity.

    Returns (id, n_spans, n_kept, deduped_text).

    Plan shape at scale: one narrow chop (split + slice, pure codegen),
    then exactly two shuffles — a window keyed on the span value to rank
    global occurrences (hash-partitioned; no all-pairs anywhere), and the
    reassembly groupBy on id. Shuffled rows carry (id, idx, span): bytes
    scale with corpus size × 1, not with any pairing."""
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    # Token array materialized behind its own projection so the per-span
    # lambdas don't each re-run the regexp+split chain (CollapseProject
    # inlining — see shingle_hashes_from_token_hashes).
    base = df.select(F.col(id_col).alias("id"), toks.alias("__tk"))
    tk = F.col("__tk")
    n_spans = F.greatest(F.ceil(F.size(tk) / F.lit(span_tokens)).cast("int"), F.lit(1))
    chunks = base.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(tk, i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("idx", "span"),
    )
    w = Window.partitionBy("span").orderBy("id", "idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct(F.col("idx"), F.col("span")))
                        )
                    ),
                    lambda s: s.getField("span"),
                ),
                " ",
            ).alias("deduped_text"),
        )
        .withColumnRenamed("id", id_col)
    )


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 4,
    compare_chars: int = 48,
    block_chars: int = 8,
    max_block_size: int | None = None,
) -> DataFrame:
    """Blocked fuzzy-matching pairs by edit distance — the record-linkage
    primitive (match candidate generation + verify) that complements the
    set-similarity family (MinHash/Jaccard measures token overlap;
    Levenshtein catches small in-place edits like typos and OCR noise
    that shift every shingle).

    Reference analog: deduplication_fields matching generalized from
    exact equality (ElasticsearchIndexUtils.java:236-251) to bounded
    edit distance.

    Semantics: texts are canonicalized (lower, collapse whitespace,
    trim) and truncated to ``compare_chars``; two docs pair when their
    canonical prefixes share the first ``block_chars`` chars (the
    blocking key) and levenshtein(prefix_a, prefix_b) <= max_distance.
    Returns (id_a, id_b, lev_dist) with id_a < id_b.

    Plan shape at 100 TB: one narrow canonicalization pass, then a
    self-equi-join keyed ONLY on the block key — never all-pairs. Two
    cheap necessary conditions run before the O(len²) levenshtein:
    equal block key (join key) and |len_a − len_b| ≤ max_distance
    (edit distance is bounded below by the length gap). Everything is
    JVM codegen (``F.levenshtein`` is a builtin); no Python. Blocking
    recall caveat: an edit inside the first ``block_chars`` chars moves
    the pair to different blocks — production runs union several
    blocking passes (prefix, suffix, length band) exactly like
    multi-probe LSH; each pass is this same operator with a different
    key expression.

    Block-skew guard: a boilerplate prefix shared by a huge fraction of
    the corpus ("terms of service...") makes one block quadratic. With
    ``max_block_size`` set, blocks larger than it are dropped BEFORE the
    self-join (deterministic, documented recall cut — boilerplate
    prefixes are exactly the pairs edit-distance matching is least
    useful for); unset, all blocks join.
    """
    canon = F.substring(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), 1, compare_chars
    )
    base = df.select(
        F.col(id_col).alias("id"),
        canon.alias("__s"),
    ).withColumn("__blk", F.substring(F.col("__s"), 1, block_chars))
    if max_block_size is not None:
        base = (
            base.withColumn(
                "__bn", F.count(F.lit(1)).over(Window.partitionBy("__blk"))
            )
            .filter(F.col("__bn") <= F.lit(int(max_block_size)))
            .drop("__bn")
        )
    a = base.select(
        F.col("id").alias("id_a"), F.col("__s").alias("__sa"), "__blk"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("__s").alias("__sb"), "__blk"
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("__sa") - F.length("__sb")) <= F.lit(max_distance)
        )
        .withColumn("lev_dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("lev_dist") <= F.lit(max_distance))
        .select("id_a", "id_b", "lev_dist")
    )


def _containment_pairs_driver(
    base: DataFrame, tau_permille: int, max_shingle_freq
) -> DataFrame:
    """Driver-exact replica of the SSJoin prefix-filter pipeline over the
    collected (id, shingle-set) base — same rarest-first (tf, tok) order,
    same prefix length ⌈p = n − ⌈τ·n/1000⌉ + 1⌉, same auto/int/None
    hot-shingle cap applied to both candidate sides, same full-set exact
    verify and floor(1e6·inter/size_a) double-division rounding — so the
    emitted directed pairs are identical to the distributed join's."""
    import math
    import warnings
    from collections import Counter, defaultdict

    import pandas as pd
    from pyspark.sql import types as T

    spark = base.sparkSession
    id_type = base.schema["id"].dataType
    rows = base.toPandas()
    ids = rows["id"].tolist()
    toks = [list(t) for t in rows["tk"].tolist()]
    tf = Counter()
    for tl in toks:
        tf.update(tl)
    if max_shingle_freq == "auto":
        cost_factor = 16
        hist = sorted(Counter(tf.values()).items())
        total = sum(f * n for f, n in hist)
        budget = cost_factor * total
        run_cost, cap = 0, 0
        for f, n in hist:
            run_cost += f * f * n
            if run_cost > budget:
                break
            cap = f
        max_shingle_freq = max(cap, 32)
        max_tf = hist[-1][0] if hist else 0
        if max_tf > max_shingle_freq:
            n_dropped_tokens = sum(n for f, n in hist if f > max_shingle_freq)
            warnings.warn(
                "containment_pairs auto cap engaged: dropping "
                f"{n_dropped_tokens} shingles with corpus frequency > "
                f"{max_shingle_freq} (max observed {max_tf}) from candidate "
                "generation — recall may be reduced for pairs sharing only "
                "ultra-common shingles; pass max_shingle_freq=None for "
                "exact (quadratic-risk) semantics",
                stacklevel=3,
            )
    sets = []
    sorted_toks = []
    for tl in toks:
        st = sorted(tl, key=lambda t: (tf[t], t))
        sorted_toks.append(st)
        sets.append(set(tl))
    postings = defaultdict(list)
    for i, st in enumerate(sorted_toks):
        for t in st:
            if max_shingle_freq is None or tf[t] <= max_shingle_freq:
                postings[t].append(i)
    out = {"id_a": [], "id_b": [], "inter": [], "size_a": [], "cont_f6": []}
    tau = int(tau_permille)
    for i, st in enumerate(sorted_toks):
        n = len(st)
        need = (tau * n + 999) // 1000
        plen = n - need + 1
        cand = set()
        for t in st[:plen]:
            if max_shingle_freq is None or tf[t] <= max_shingle_freq:
                cand.update(postings[t])
        sa = sets[i]
        for j in sorted(cand):
            # the distributed join's id_a != id_b: skips the row itself and
            # any other row carrying the same id
            if ids[j] == ids[i]:
                continue
            inter = len(sa & sets[j])
            if inter * 1000 >= tau * n:
                out["id_a"].append(ids[i])
                out["id_b"].append(ids[j])
                out["inter"].append(inter)
                out["size_a"].append(n)
                out["cont_f6"].append(int(math.floor(1000000 * inter / n)))
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("inter", T.IntegerType()),
            T.StructField("size_a", T.IntegerType()),
            T.StructField("cont_f6", T.LongType()),
        ]
    )
    pdf = pd.DataFrame(out)
    pdf["inter"] = pdf["inter"].astype("int32")
    pdf["size_a"] = pdf["size_a"].astype("int32")
    pdf["cont_f6"] = pdf["cont_f6"].astype("int64")
    return spark.createDataFrame(pdf, schema=schema)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_permille: int = 800,
    ngram: int = 3,
    max_shingle_freq: int | None | str = "auto",
    driver_cap_shingles: int = 2_000_000,
) -> DataFrame:
    """EXACT shingle-set containment join: directed pairs (id_a, id_b)
    where |A∩B| / |A| ≥ τ over the documents' distinct token ``ngram``
    sets — the doc-inside-doc detector. Jaccard-based dedup (MinHash/
    LSH) structurally misses a small document embedded in a large one
    (the union dominates); containment is the right measure for quote
    extraction, boilerplate wrapping, and superset pages, and is the
    second classic set-similarity predicate (SSJoin/PPJoin family)
    alongside Jaccard. Shingles (not bare tokens) keep the universe
    order-sensitive and large — on a small-vocabulary corpus every
    token SET contains every other, while shingle sets only match real
    shared passages; ``ngram=1`` degenerates to token sets.

    Exact, via PREFIX FILTERING: order the token universe rarest-first
    (corpus frequency asc, token asc); if |A∩B| ≥ ⌈τ·|A|⌉ then at least
    one of A's first p = |A| − ⌈τ|A|⌉ + 1 tokens in that order is in B
    (if all p were outside B, too few tokens would remain to reach the
    overlap — so joining A-prefixes against FULL token postings loses
    nothing). Any total order gives exactness; rarest-first gives
    performance, because the join key distribution is then dominated by
    RARE tokens on the prefix side, and a rare token's full posting list
    is short — the stopword postings that would otherwise explode the
    join are excluded from prefixes precisely because they sort last.

    Returns (id_a, id_b, inter, size_a, cont_f6) with id_a ≠ id_b,
    cont_f6 = floor(10⁶·inter/size_a); all thresholds compared in
    integers (τ as permille), so results are engine-exact.

    Plan shape at scale: tokenize+distinct narrow; one groupBy(token)
    for corpus frequencies; per-doc sort-by-(freq,token) via array_sort
    of structs (document-local); prefix explode; ONE equi-join
    (prefix × postings) keyed on token; exact verify on the candidate
    pairs only (array_intersect of the two token arrays). Never
    all-pairs.

    Degeneracy guard: candidate volume is Σ prefix-occurrences ×
    posting-length. On natural corpora the shingle universe grows with
    the corpus (Heap's law) and posting lengths stay ~flat → linear
    scaling; on LOW-DIVERSITY corpora (tiny vocabulary, templated text)
    every shingle's frequency grows with n and the join goes quadratic
    (tools/scale_stress.py reproduces this). ``max_shingle_freq`` drops
    shingles more frequent than the cap from BOTH join sides — a
    deterministic, documented recall trade (a pair sharing ONLY
    ultra-common shingles is boilerplate overlap, the least meaningful
    containment signal); the exact verify still uses the FULL shingle
    sets, so reported cont_f6 values are unaffected — only candidate
    generation loses the hot keys.

    The DEFAULT is ``"auto"``: a cost-based cap chosen from the exact
    distinct-frequency histogram — the largest cap whose candidate-volume
    bound (Σ tf² over kept tokens) stays within 16× the corpus's total
    shingle instances, floored at 32. On a natural Heap's-law corpus the
    bound is already linear and the cap never bites (exact SSJoin
    semantics); on a degenerate low-diversity corpus it sheds precisely
    the tokens that would go quadratic, WITHOUT caller tuning. The choice
    is deterministic (exact integer arithmetic on a slim histogram). Pass
    ``None`` to opt out (exact semantics, quadratic risk on degenerate
    corpora) or an int to pin the cap.
    """
    from pyspark import StorageLevel

    from aleph2_contrib_spark.parallel import ensure_parallelism

    wds = F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != "")

    # Bind the word array ONCE as a lambda variable of a 1-element outer
    # transform (the rolling_hash_fingerprints pattern): referenced as a
    # plain projected column, CollapseProject splices the split+filter
    # chain into EVERY F.slice(w, i, n) call — re-tokenizing each
    # document ~|shingles| times (measured 5-10x slower end-to-end).
    def _from_words(warr: Column) -> Column:
        # greatest(..., 1): sequence(1, 0) would run DESCENDING and hit
        # slice(start=0); short docs get one junk shingle instead, and the
        # __nw filter below drops those rows anyway
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(warr) - F.lit(ngram - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(warr, i, ngram)),
            )
        )

    shingles = F.transform(F.array(wds), _from_words)[0]
    # Shingling is the expensive narrow pass (interpreted higher-order
    # exprs over every document) — spread it over the cores before
    # computing it (a one-split parquet table would otherwise serialize
    # it), and persist the result: freq, ordered, and the verify all
    # need the shingle sets, and without the cache the tokenizer re-runs
    # once per consumer (measured 3x the end-to-end tokenize cost).
    base = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.size(wds).alias("__nw"), shingles.alias("tk"))
        .filter(F.col("__nw") >= F.lit(ngram))
        .select("id", "tk")
        .filter(F.size("tk") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if driver_cap_shingles:
        # Hybrid fast path (triangle_count discipline): the SSJoin's five
        # post-shingling shuffles (freq, ordered, prefix join, two verify
        # fetches) are fixed job latency that dwarfs the work when the
        # corpus's distinct-shingle volume fits one driver collect. The
        # stats probe doubles as the cache materializer for base.
        stats = base.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("tk")).alias("m")
        ).first()
        if (stats["m"] or 0) <= int(driver_cap_shingles):
            return _containment_pairs_driver(base, tau_permille, max_shingle_freq)
    freq = (
        base.select(F.explode("tk").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-doc tokens sorted rarest-first: join freqs, rebuild the array
    # document-locally from (freq, token) structs. The tf field is KEPT
    # in the sorted array so the hot-shingle cap below is a document-
    # local filter on the struct field instead of two semi-joins against
    # freq (each of which re-aggregated the corpus: 2 extra shuffles + a
    # recomputed tokenize pass per semi-join).
    ordered = (
        base.select("id", F.explode("tk").alias("tok"))
        .join(freq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("tf"), F.col("tok")))).alias(
                "tk_sorted"
            )
        )
    )
    # ordered feeds four plan branches (prefix side, posting side, two
    # array fetches) — persist once; and keep the candidate join SLIM:
    # only (tok, id) pairs shuffle through it, the shingle arrays join
    # back by id afterwards for the verify. Carrying the arrays through
    # the exploded prefix rows would multiply shuffle bytes by the
    # prefix length.
    ordered = ordered.persist(StorageLevel.MEMORY_AND_DISK)
    n = F.size("tk_sorted")
    # p = n − ceil(τ·n/1000) + 1, in pure integer arithmetic
    need = F.floor((F.lit(int(tau_permille)) * n + F.lit(999)) / F.lit(1000)).cast("int")
    prefix_len = (n - need + F.lit(1)).cast("int")
    if max_shingle_freq == "auto":
        # Cost-based cap: candidate volume is bounded by Σ tf(t)² over
        # surviving tokens (prefix occurrences ≤ tf). Keep the LARGEST cap
        # whose bound stays within cost_factor × total shingle instances —
        # i.e. O(corpus) candidates by construction. On a Heap's-law corpus
        # Σ tf² is already linear and the cap never bites (exact SSJoin);
        # on a degenerate uniform-hot corpus it sheds exactly the tokens
        # that would go quadratic. Driver state = the distinct-tf histogram
        # (≤ max document frequency rows — slim at any corpus size), and
        # the arithmetic is exact integers, so the cap is deterministic.
        cost_factor = 16
        hist = sorted(
            (r["tf"], r["n"]) for r in
            freq.groupBy("tf").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        total = sum(tf * n for tf, n in hist)
        budget = cost_factor * total
        run_cost, cap = 0, 0
        for tf, n in hist:
            run_cost += tf * tf * n
            if run_cost > budget:
                break
            cap = tf
        max_shingle_freq = max(cap, 32)
        max_tf = hist[-1][0] if hist else 0
        if max_tf > max_shingle_freq:
            # the cap is actually shedding hot shingles on THIS corpus —
            # candidate generation loses pairs whose only shared shingles
            # are hotter than the cap. Never silent (review finding):
            # callers who need exact semantics pass max_shingle_freq=None.
            import warnings

            n_dropped_tokens = sum(n for tf, n in hist if tf > max_shingle_freq)
            warnings.warn(
                "containment_pairs auto cap engaged: dropping "
                f"{n_dropped_tokens} shingles with corpus frequency > "
                f"{max_shingle_freq} (max observed {max_tf}) from candidate "
                "generation — recall may be reduced for pairs sharing only "
                "ultra-common shingles; pass max_shingle_freq=None for "
                "exact (quadratic-risk) semantics",
                stacklevel=2,
            )
    # Candidate sides: slice/keep the struct arrays document-locally,
    # apply the hot-shingle cap as a tf-field filter (replacing the two
    # freq semi-joins — the cap set is already in every row), then
    # explode to slim (tok, id) rows. Materialize ordered's cache FIRST
    # (one bounded count on top of the cached base/freq) so the four
    # consumer branches below all read InMemoryTableScan instead of
    # racing to compute the same aggregation inside one job.
    ordered.count()

    def _keep(arr: Column) -> Column:
        if max_shingle_freq is None:
            return arr
        return F.filter(arr, lambda s: s["tf"] <= F.lit(int(max_shingle_freq)))

    prefixes = ordered.select(
        F.col("id").alias("id_a"),
        F.explode(
            F.transform(_keep(F.slice("tk_sorted", 1, prefix_len)), lambda s: s["tok"])
        ).alias("tok"),
    )
    postings = ordered.select(
        F.col("id").alias("id_b"),
        F.explode(
            F.transform(_keep(F.col("tk_sorted")), lambda s: s["tok"])
        ).alias("tok"),
    )
    cand_ids = (
        prefixes.join(postings, "tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    toks_only = ordered.select(
        "id", F.transform("tk_sorted", lambda s: s["tok"]).alias("tk")
    )
    cand = cand_ids.join(
        toks_only.select(F.col("id").alias("id_a"), F.col("tk").alias("tk_a")),
        "id_a",
    ).join(
        toks_only.select(F.col("id").alias("id_b"), F.col("tk").alias("tk_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    size_a = F.size("tk_a")
    return (
        cand.withColumn("inter", inter)
        .withColumn("size_a", size_a)
        .filter(F.col("inter") * 1000 >= F.lit(int(tau_permille)) * F.col("size_a"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            F.floor(F.lit(1000000) * F.col("inter") / F.col("size_a"))
            .cast("long")
            .alias("cont_f6"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    classic entity-resolution candidate generator the LSH/blocked-key
    family doesn't cover: order records by a sorting key (name, address,
    normalized title) and emit every pair within ``window`` positions,
    catching near-typos that land adjacent in sort order but share no
    exact block key.

    Returns (id_a, id_b, rank_dist) with id_a the rank-earlier record
    and rank_dist ∈ [1, window]. Deterministic: the sort key is extended
    with ``id_col`` so the global order is total.

    Plan shape at 100 TB: a COMPOSITION of two machines this repo
    already trusts — the rank is corpus.global_order_index's two-phase
    scan (range-partition + per-partition row_number + driver prefix;
    no single-task sort), and the within-window pairing is
    joins.epsilon_band_join ON THE RANK ITSELF (grid-bucketed equi-join,
    3·n + n skinny rows of shuffle). Candidate count is exactly
    n·window — the dial the method is named for.
    """
    from aleph2_contrib_spark.operators.corpus import global_order_index
    from aleph2_contrib_spark.operators.joins import epsilon_band_join

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    ranked = global_order_index(
        df.select(F.col(id_col), *[F.col(c) for c in sort_cols]),
        [*sort_cols, id_col],
    ).select(F.col(id_col), F.col("idx"))
    l = ranked.select(F.col(id_col).alias("__a_id"), F.col("idx").alias("__a_idx"))
    r = ranked.select(F.col(id_col).alias("__b_id"), F.col("idx").alias("__b_idx"))
    return (
        epsilon_band_join(l, r, "__a_id", "__a_idx", "__b_id", "__b_idx", int(window))
        .filter(F.col("diff") >= 1)
        .select(
            F.col("__a_id").alias("id_a"),
            F.col("__b_id").alias("id_b"),
            F.col("diff").alias("rank_dist"),
        )
    )


def sorted_neighborhood_oracle_sql(
    rows_sql: str, sort_exprs: list[str], id_col: str, window: int = 5
) -> str:
    """DuckDB replica of :func:`sorted_neighborhood_pairs` — one global
    row_number (fine at gate scale) + the rank-distance theta join.
    ``rows_sql`` yields the sort columns and ``id_col``."""
    order = ", ".join([*sort_exprs, id_col])
    return f"""
WITH ranked AS (
    SELECT {id_col} AS id,
           row_number() OVER (ORDER BY {order}) - 1 AS idx
    FROM ({rows_sql})
)
SELECT a.id AS id_a, b.id AS id_b, CAST(b.idx - a.idx AS BIGINT) AS rank_dist
FROM ranked a JOIN ranked b
  ON b.idx - a.idx BETWEEN 1 AND {int(window)}
"""


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 4,
    max_sources_per_shingle: int = 32,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — "how much of corpus A is
    also in corpus B", the census a training-data pipeline runs before
    mixing sources (Common Crawl vs curated web vs code) to size the
    cross-source dedup problem and catch upstream mirror contamination
    BEFORE committing to mix weights.

    For every unordered source pair that shares at least one distinct
    word n-gram:

        (source_a, source_b, shared_shingles, total_a, total_b,
         containment_ppm)

    shared_shingles = |shingles(A) ∩ shingles(B)| (distinct grams),
    total_x = |shingles(X)|, containment_ppm = (shared · 1e6) div
    min(total_a, total_b) — the asymmetric-containment form of overlap
    (a small corpus fully mirrored inside a big one scores 1e6, where
    plain Jaccard would hide it). All exact integers / truncating
    division.

    Shingles present in MORE THAN ``max_sources_per_shingle`` sources
    are excluded everywhere (shared counts AND totals) — they are
    boilerplate by definition and would otherwise make every pair look
    related; the cutoff is a deterministic rule mirrored exactly by the
    oracle, the same hot-key fence the SSJoin prefix filter uses.

    Plan shape at 100 TB: one explode + distinct on (gram_key, source)
    — the gram crosses the shuffle as a 16-hex md5 key, not the string
    — one groupBy(gram) to count sources (the cap filter), a self-join
    of the CAPPED postings on gram_key (fan-out bounded by the cap per
    gram), one groupBy(pair), and a broadcast totals join (sources are
    few). Never all-pairs on documents; no Python.
    """
    from aleph2_contrib_spark.operators.corpus import word_ngrams

    postings = (
        df.select(
            F.col(source_col).alias("src"),
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .select("src", F.substring(F.md5("gram"), 1, 16).alias("gk"))
        .distinct()
    )
    eligible = (
        postings.groupBy("gk")
        .agg(F.count(F.lit(1)).alias("ns"))
        .filter(F.col("ns") <= max_sources_per_shingle)
    )
    capped = postings.join(eligible.select("gk"), "gk")
    totals = capped.groupBy("src").agg(F.count(F.lit(1)).alias("total"))
    a, b = capped.alias("a"), capped.alias("b")
    shared = (
        a.join(b, F.col("a.gk") == F.col("b.gk"))
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    ta = totals.select(F.col("src").alias("source_a"), F.col("total").alias("total_a"))
    tb = totals.select(F.col("src").alias("source_b"), F.col("total").alias("total_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared_shingles").cast("long").alias("shared_shingles"),
            F.col("total_a").cast("long").alias("total_a"),
            F.col("total_b").cast("long").alias("total_b"),
            F.expr(
                "CAST((shared_shingles * 1000000) div least(total_a, total_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


def cross_source_overlap_oracle_sql(
    docs_sql: str,
    n: int = 4,
    max_sources_per_shingle: int = 32,
) -> str:
    """DuckDB replica of :func:`cross_source_overlap`. ``docs_sql``
    yields (src, text). Identical tokenization (lower, whitespace
    split), identical md5-16 gram keys, identical cap and truncating
    division."""
    gram_parts = ", ".join(f"t[i + {j}]" for j in range(n))
    return f"""
WITH d AS (
    SELECT src,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
    FROM ({docs_sql})
    WHERE text IS NOT NULL AND trim(text) <> ''
), g AS (
    SELECT src, unnest(list_transform(range(1, len(t) - {n} + 2),
               i -> concat_ws(' ', {gram_parts}))) AS gram
    FROM d WHERE len(t) >= {n}
), p AS (
    SELECT DISTINCT src, substr(md5(gram), 1, 16) AS gk FROM g
), elig AS (
    SELECT gk FROM p GROUP BY gk
    HAVING count(*) <= {max_sources_per_shingle}
), capped AS (
    SELECT p.src, p.gk FROM p JOIN elig USING (gk)
), tot AS (
    SELECT src, count(*) AS total FROM capped GROUP BY src
), shared AS (
    SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared_shingles
    FROM capped a JOIN capped b ON a.gk = b.gk AND a.src < b.src
    GROUP BY 1, 2
)
SELECT s.source_a, s.source_b,
       CAST(s.shared_shingles AS BIGINT) AS shared_shingles,
       CAST(ta.total AS BIGINT) AS total_a,
       CAST(tb.total AS BIGINT) AS total_b,
       CAST((s.shared_shingles * 1000000) // least(ta.total, tb.total)
            AS BIGINT) AS containment_ppm
FROM shared s
JOIN tot ta ON ta.src = s.source_a
JOIN tot tb ON tb.src = s.source_b
"""
