"""Scale-posture operators: the physical-layout and skew tools a 100 TB
deployment needs around the §2 logical operators.

The reference's only performance artifacts are five b-tree indexes
(init-db/init.sql:63-67) and a polling interval; everything else is
delegated to Postgres (SURVEY.md §4). On Spark the equivalents are
layout decisions made at write time and shuffle decisions made at join
time — this module packages them:

  * write_partitioned_fact  — date-partitioned Parquet (the
    `idx_ventes_date` analog: partition pruning replaces the index)
  * write_bucketed_table    — bucketBy on the join key (the join-key
    index analog: co-located, shuffle-free fact⋈fact joins)
  * analyze_for_cbo         — table/column stats so Catalyst's CBO can
    order star joins (the PK-constraint cardinality-hint analog)
  * salted_join             — hot-key skew mitigation for the shuffles
    AQE's skew handling can't fix (single giant build-side key)

All are ordinary DataFrame/catalog code — no custom planner rules.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from datawarehouse1_spark.functions.arrays import const_bigint_array


def write_partitioned_fact(
    df: DataFrame,
    path: str,
    ts_col: str,
    partition_col: str = "part_month",
    mode: str = "overwrite",
) -> None:
    """Write a fact table partitioned by month(ts_col).

    Reading back with a date predicate prunes whole partitions before any
    I/O — the Spark analog of the reference's `idx_ventes_date` b-tree
    (init-db/init.sql:67). At 100 TB this is the difference between
    scanning one month and scanning the decade.
    """
    (
        df.withColumn(partition_col, F.date_format(F.col(ts_col), "yyyy-MM"))
        .write.mode(mode)
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table (the join-key index analog,
    init-db/init.sql:63-66). Two tables bucketed on the same key with the
    same bucket count join with ZERO shuffle — both sides are already
    hash-distributed on the key. Pre-pays the shuffle once at write time;
    every subsequent join reuses it.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)


def analyze_for_cbo(
    spark: SparkSession, table_name: str, columns: Sequence[str] = ()
) -> None:
    """Compute table (and optionally column) statistics so the cost-based
    optimizer can reorder joins and pick broadcast candidates — the role
    the reference's PK/UNIQUE constraints play for the Postgres planner
    (SURVEY.md §4)."""
    spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table_name} COMPUTE STATISTICS FOR COLUMNS {cols}")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (possibly skewed) fact side into
    `n_salts` sub-keys and replicate the dim side once per salt, so a hot
    key's rows spread over n_salts reducers instead of one.

    The salt is `pmod(hash(fact-row), n_salts)` — deterministic, uniform,
    and independent of the join key. Result set is identical to the plain
    join (each fact row matches exactly the replicas carrying its salt).

    Use when one build-side key dominates (AQE's skewJoin splits oversized
    *partitions*, but cannot split a single giant *key* on the build side).
    Cost: dim side is materialized n_salts times — keep n_salts modest and
    the dim narrow.

    Only `inner` and `left` are supported: an unmatched FACT row carries
    exactly one salt so appears once, but an unmatched DIM row exists as
    `n_salts` replicas and would appear n_salts times under `right`/`full`
    — silently wrong, so those modes raise.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner', 'left'), got {how!r}: "
            "the dim side is replicated per salt, so right/full outer would "
            "emit each unmatched dim row n_salts times"
        )
    fact_cols = [c for c in fact.columns]
    dim_cols = [c for c in dim.columns]
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in fact_cols]), F.lit(n_salts))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return joined.select(
        *[salted_fact[c] for c in fact_cols], *[salted_dim[c] for c in dim_cols]
    )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_col: str,
) -> None:
    """Backfill/reprocess primitive: overwrite ONLY the partitions
    present in `df`, leaving all other partitions of the table intact
    (spark.sql.sources.partitionOverwriteMode=dynamic, scoped to this
    write). This is how a 100 TB date-partitioned fact absorbs a
    corrected day without rewriting history — the missing half of
    write_partitioned_fact's mode='overwrite', which would truncate the
    whole table."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def zorder_value(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int = 16,
    out_col: str = "__z",
) -> DataFrame:
    """Add a Z-order (Morton) key interleaving the bits of each column's
    uniform bucket id. Bucket ids come from width_bucket over the global
    [min, max] (one cheap agg); interleaving is pure JVM bit expressions.

    Why: sorting a layout by ONE key gives perfect file-level min/max
    pruning on that key and none on the others; Z-ordering bounds EVERY
    listed column's spread per file, so predicates on any of them skip
    files. The same trick Delta/Iceberg expose as OPTIMIZE ZORDER BY,
    here as a plain DataFrame transform."""
    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_value supports 1-3 columns")
    bounds = df.agg(
        *[F.min(c).alias(f"{c}__min") for c in cols],
        *[F.max(c).alias(f"{c}__max") for c in cols],
    ).first()
    n_buckets = 1 << bits_per_col
    bucket_ids = []
    for c in cols:
        lo, hi = bounds[f"{c}__min"], bounds[f"{c}__max"]
        if lo is None or hi == lo:
            bucket_ids.append(F.lit(0).cast("long"))
            continue
        # width_bucket returns 1..n+1; clamp into 0..n-1
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)),
            F.lit(n_buckets),
        )
        bucket_ids.append(
            F.least(F.greatest(b - 1, F.lit(0)), F.lit(n_buckets - 1)).cast("long")
        )
    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits_per_col):
        for i, bid in enumerate(bucket_ids):
            bit = F.shiftrightunsigned(bid, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return df.withColumn(out_col, z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 16,
    bits_per_col: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-ordered on `cols`: range-partition by the Morton
    key (so each output file owns a contiguous z-range == a small
    hyper-rectangle of the key space), sort within partitions, drop the
    key. Readers get file/row-group min-max skipping on every listed
    column from plain parquet statistics — no table format required."""
    zdf = zorder_value(df, cols, bits_per_col)
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dir into ~target-sized
    files. Streaming/incremental appends (one file per micro-batch — see
    streaming/file_ingest) accumulate small files that poison scan
    planning at scale (per-file open cost, tiny row groups, starved
    vectorized reads); periodic compaction is standard warehouse hygiene.

    Returns the number of output files. Writes to a staging dir first,
    then swaps — readers never see a half-written table. When
    partition_col is given, files coalesce within each partition
    (preserving pruning).

    The swap is two renames, NOT atomic: between them the table path does
    not exist for a moment. The backup (`__precompact`) is kept until the
    swapped-in data verifies (at least one parquet file; the _SUCCESS
    marker is required only when the committer actually writes markers —
    deployments with mapreduce.fileoutputcommitter.marksuccessfuljobs=
    false would otherwise fail verify on every run and silently roll
    back); on any failure the backup is restored, so a crash can strand a
    `__precompact`/`__compacting` dir but never lose the table. Recovery
    rule: if `path` is missing, promote `__precompact` (pre-compaction
    data, always complete).

    Compaction must not run beside a writer that publishes into `path`
    (a streaming IngestSink): the swap moves the whole directory, so a
    part file published after the read would land in `__precompact` and
    be deleted with it. Just before the swap the table's data files are
    compared with the files the read saw; if they differ, `__compacting`
    is deleted, the table is left untouched and RuntimeError names the
    files. A publish between that check and the first rename is still
    lost; only the sink itself can close that window.
    """
    import math
    import shutil
    from pathlib import Path
    from urllib.parse import unquote, urlparse

    def data_files() -> set[str]:
        # the files a parquet read of `path` picks up: none hidden
        root = Path(path)
        return {
            str(f.resolve())
            for f in root.rglob("*")
            if f.is_file()
            and not any(
                part.startswith(("_", "."))
                for part in f.relative_to(root).parts
            )
        }

    df = spark.read.parquet(path)
    read = {
        str(Path(unquote(urlparse(f).path)).resolve()) for f in df.inputFiles()
    }
    total_bytes = sum(f.stat().st_size for f in Path(path).rglob("*.parquet"))
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    staging = f"{path}__compacting"
    writer = df.repartition(n_files).write.mode("overwrite")
    if partition_col:
        writer = (
            df.repartition(n_files, partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
        )
    writer.parquet(staging)
    # Read the committer conf BEFORE the swap: _SUCCESS is only evidence
    # of a complete job when the committer is configured to write it
    # (hadoopConfiguration is where spark.hadoop.* settings land).
    markers_on = (
        spark.sparkContext._jsc.hadoopConfiguration()
        .get("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        .lower()
        != "false"
    )

    current = data_files()
    if current != read:
        shutil.rmtree(staging)
        raise RuntimeError(
            f"compaction of {path} aborted, the table changed after its"
            f" read: new {sorted(current - read)},"
            f" gone {sorted(read - current)}"
        )
    backup = f"{path}__precompact"
    shutil.move(path, backup)
    try:
        shutil.move(staging, path)
        p = Path(path)
        ok = any(p.rglob("*.parquet")) and (
            (p / "_SUCCESS").exists() or not markers_on
        )
        if not ok:
            raise RuntimeError(f"compaction verify failed for {path}")
    except BaseException:
        if Path(path).exists() and Path(backup).exists():
            shutil.rmtree(path)
        if Path(backup).exists() and not Path(path).exists():
            shutil.move(backup, path)
        raise
    shutil.rmtree(backup)
    return n_files


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Raise a CPU-bound narrow stage to full parallelism when the scan
    delivered fewer input splits than the cluster has cores.

    On a real cluster reading TB-scale inputs this is a NO-OP: splits
    (>= files x row groups) exceed defaultParallelism, and inserting a
    repartition there would be a wrong-at-scale shuffle of row bodies.
    But a CPU-heavy per-row stage (minhash folds, Python codec decode in
    mapInPandas) above a SMALL input — a bounded sample, a small-SF run,
    a dimension-sized side table — inherits the scan's 1-2 partitions
    and serializes on 2 of N cores. The condition makes the shuffle pay
    for itself exactly when the work, not the data, is the bottleneck.
    Measured: the sf0.1 minhash signature fold drops from 2 tasks to 32
    (2.8 s -> ~0.7 s locally); at production split counts the branch is
    never taken.

    r16: the split-count probe (df.rdd.getNumPartitions) builds a full
    physical plan + RDD per call (~80 ms of driver work), so repeated
    constructions of the same operator paid it every time. The DECISION
    is memoized per (applicationId, semanticHash): same semantic plan in
    the same app ⇒ same split count. A hash collision could only flip
    the widen decision — a performance choice, never a correctness one
    (every caller is aggregation/hash-keyed downstream, indifferent to
    partitioning)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    narrow = _WIDEN_MEMO.get(key)
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < target
        _WIDEN_MEMO[key] = narrow
    if not narrow:
        return df
    return df.repartition(target)


_WIDEN_MEMO: dict[tuple[str, int], bool] = {}


def bloom_prefilter(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """NARROW Bloom-membership prefilter of `fact` against `dim`'s key
    set: returns the fact rows whose key MIGHT be in dim (all true
    members + <~1% false positives at the default sizing). Building
    block of bloom_semi_join — the EXACT left-semi join with a Bloom
    prefilter — the hand-rolled
    form of the runtime filter a warehouse pushes into its biggest
    scans (Spark's own InSubqueryExec/bloom runtime filtering, Join
    pushdown in every MPP engine).

    Why it matters at 100 TB: a semi join against a selective dim
    still SHUFFLES every fact row to the join; the bloom bitmap drops
    non-members with a NARROW filter at the scan, so the shuffle
    carries only (true members + false positives). With n_bits sized
    ~10 bits/key the FP rate is <1%, i.e. the shuffle volume tracks
    the true selectivity instead of the fact size.

    Mechanics: the dim side folds each key's `n_hashes` md5-derived
    positions into an `n_bits` bitmap via ONE aggregate (bit_or over
    64-bit words); the bitmap — `n_bits/64` longs, a CONSTANT bounded
    by configuration and independent of data size (default: 1024
    longs = 8 KiB) — is collected and inlined as a literal array, the
    same way Spark broadcasts a runtime filter to executors. The fact
    filter tests all `n_hashes` bits with pure JVM expressions; the
    exact semi join then removes false positives, so

        bloom_semi_join(fact, dim, ...) == fact ⋉ dim     (law, pinned)

    bit-for-bit. md5-derived positions (not xxhash) keep the bitmap
    engine-reproducible, same discipline as sampling/sharding.
    """
    n_words = n_bits // 64

    def _shl1(bits_col):
        # F.shiftleft only takes a Python int shift; call_function routes
        # the column-shift form of the SQL function
        return F.call_function("shiftleft", F.lit(1).cast("long"), bits_col)

    def positions(col):
        # h_i(key) = first 8 md5 hex digits of "<i>:<key>" mod n_bits
        return [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % n_bits
            )
            for i in range(n_hashes)
        ]

    pos_rows = dim.select(
        F.explode(F.array(*positions(F.col(dim_key)))).alias("_pos")
    )
    words = (
        pos_rows.select(
            (F.col("_pos") / 64).cast("int").alias("_word"),
            _shl1((F.col("_pos") % 64).cast("int")).alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_mask"))
        .collect()  # bounded: n_bits/64 rows by construction (config constant)
    )
    bitmap = [0] * n_words
    for r in words:
        bitmap[r["_word"]] = r["_mask"]
    # ONE py4j call for the whole array literal. NOTE (r14, review
    # finding): F.lit(list) on classic PySpark is itself sugar for
    # array(*[lit(w) ...]) — still a round-trip per element; it only
    # saved the per-element .cast calls of the old loop. The ndarray
    # path inside const_bigint_array is the genuinely single-call
    # route; Catalyst folds it to the same literal, plan unchanged.
    bitmap_lit = const_bigint_array(bitmap)

    probe = None
    for p in positions(F.col(fact_key)):
        word = F.element_at(bitmap_lit, (p / 64).cast("int") + 1)
        hit = word.bitwiseAND(_shl1((p % 64).cast("int"))) != 0
        probe = hit if probe is None else (probe & hit)

    return fact.filter(probe)


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """bloom_prefilter + the exact semi join that removes the false
    positives: bit-identical to fact ⋉ dim (law pinned in
    tests/test_scale_temporal_ops.py), with the shuffle fed only the
    prefilter's survivors."""
    prefiltered = bloom_prefilter(fact, dim, fact_key, dim_key, n_bits, n_hashes)
    return prefiltered.join(
        dim, prefiltered[fact_key] == dim[dim_key], "left_semi"
    )
