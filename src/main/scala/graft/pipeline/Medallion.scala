package graft.pipeline

import graft.ops.{DateKeys, Dedup, ScdHash}
import graft.tx.{AtomicRewrite, Upsert, Watermarks}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The medallion (bronze → silver → gold) incremental pipeline, re-expressed
  * Spark-first from the reference's job family:
  *
  *  - bronze: incremental extract + lineage columns, append partitioned by
  *    `load_date` (reference: src/bronze/trips_oltp_to_bronze.py:98-176)
  *  - silver: incremental clean → latest-per-key dedup → DQ flags → SCD2
  *    close+insert in ONE join (reference: src/silver/&lt;entity&gt;_bronze_to_silver.py)
  *  - gold: SCD1 snapshot dims (hash+ts guarded upsert), SCD3 prev-column
  *    dims, date spine, facts with key-validation-to-0, and
  *    affected-partition incremental aggregates (reference: src/gold/)
  *
  * All table state lives in [[AtomicRewrite]] versioned snapshots (the
  * Delta-replacement); watermarks in a [[Watermarks]] control table with the
  * never-regress contract. Single-writer per table, as in the reference.
  *
  * Scale: bronze appends are partition-pruned on read; silver/gold merges
  * shuffle once on the business key (same as Delta MERGE); dims broadcast
  * into fact builds; aggregates recompute only affected `date_key` slices
  * rather than full history — the property that keeps a 100 TB backfill
  * incremental.
  */
object Medallion {

  /** Per-entity silver configuration: how to clean, key, order and hash. */
  case class SilverConf(
      entity: String,
      keys: Seq[String],
      businessCols: Seq[String],
      clean: DataFrame => DataFrame = identity,
      flags: Seq[(String, Column)] = Nil,
      orderCols: Seq[String] = Seq("raw_loaded_at"))

  case class Paths(root: String) {
    def bronze(e: String) = s"$root/bronze/$e"
    def silver(e: String) = s"$root/silver/$e"
    def gold(e: String) = s"$root/gold/$e"
    val control = s"$root/control/etl_control"
  }

  /** The reference's job-failure contract (trips_oltp_to_bronze.py:169-176):
    * every job body runs inside try/except; an exception records
    * `FAIL:<ExceptionType>` with a NULL watermark — which the control
    * table's never-regress merge turns into "status updated, watermark
    * kept" — and then rethrows. A replay after the fix overwrites the FAIL
    * row with OK and resumes from the unregressed watermark. */
  def failSafe[T](spark: SparkSession, paths: Paths, job: String,
                  now: Timestamp)(body: => T): T =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        // best-effort: if recording the FAIL itself fails (e.g. the
        // control table's filesystem is the root cause), the ORIGINAL
        // exception must still be the one that propagates
        try Watermarks.advance(spark, paths.control, job, None,
          s"FAIL:${e.getClass.getSimpleName}", now)
        catch { case scala.util.control.NonFatal(e2) => e.addSuppressed(e2) }
        throw e
    }

  // ---- bronze -----------------------------------------------------------

  /** Incremental extraction through a pluggable [[graft.sources.Source]]
    * (JDBC in the reference, parquet here): the watermark filter reaches
    * the source scan via pushdown. */
  def bronzeLoad(spark: SparkSession, paths: Paths, entity: String,
                 source: graft.sources.Source, wmCol: String, batchId: String,
                 now: Timestamp): Long = {
    val job = s"bronze_$entity"
    failSafe(spark, paths, job, now) {
      val wm = Watermarks.read(spark, paths.control, job)
      bronzeAppend(spark, paths, entity, job,
        source.readIncremental(spark, wmCol, wm), wmCol, batchId, now)
    }
  }

  /** Incremental source → bronze append with lineage columns. Returns rows
    * loaded. Watermark on `wmCol`; FAIL-safe via Watermarks.advance. */
  def bronzeLoad(spark: SparkSession, paths: Paths, entity: String,
                 source: DataFrame, wmCol: String, batchId: String,
                 now: Timestamp): Long = {
    val job = s"bronze_$entity"
    failSafe(spark, paths, job, now) {
      val wm = Watermarks.read(spark, paths.control, job)
      val inc = wm.map(ts => source.filter(col(wmCol) > lit(ts))).getOrElse(source)
      bronzeAppend(spark, paths, entity, job, inc, wmCol, batchId, now)
    }
  }

  private def bronzeAppend(spark: SparkSession, paths: Paths, entity: String,
                           job: String, inc: DataFrame, wmCol: String,
                           batchId: String, now: Timestamp): Long = {
    // one pass for count + new watermark (instead of isEmpty/count/max)
    val stats = inc.agg(count(lit(1)), max(col(wmCol))).head()
    val n = stats.getLong(0)
    if (n == 0L) {
      Watermarks.advance(spark, paths.control, job, None, "OK:empty", now)
      0L
    } else {
      inc.withColumn("source_system", lit("graft_source"))
        .withColumn("raw_loaded_at", lit(now))
        .withColumn("batch_id", lit(batchId))
        .withColumn("load_date", to_date(lit(now)))
        .write.mode("append").partitionBy("load_date")
        .parquet(paths.bronze(entity))
      Watermarks.advance(spark, paths.control, job,
        Option(stats.getTimestamp(1)), "OK", now)
      n
    }
  }

  // ---- silver -----------------------------------------------------------

  /** Incremental bronze → silver SCD2. Partition-prunes bronze on
    * `load_date` before the exact `raw_loaded_at` filter (reference's
    * two-filter idiom), then single-pass SCD2 merge.
    *
    * The silver table is hive-partitioned TWO levels deep:
    * `archive_month` (0 for current rows, else yyyyMM of `valid_to`) ×
    * `key_bucket` (stable business-key hash, [[DimBuckets]] dirs). A
    * batch merges against ONLY the hot buckets its keys hash into and
    * commits: those hot-bucket dirs plus the (month, bucket) dirs its
    * closed-out versions archive into; every other dir — all of closed
    * history AND the hot buckets of untouched keys — carries across the
    * commit by manifest reference. Per-batch silver cost is
    * O(batch + touched buckets' current rows): the month-only layout
    * still rewrote the ENTIRE hot partition (O(current)) per batch
    * (measured: an incremental batch staged ≈ the whole silver table;
    * perfbench's `pipeline.runner.batch.fs_bytes_written` tracks it) —
    * the last O(current)-per-batch writer in the pipeline. */
  def silverScd2(spark: SparkSession, paths: Paths, conf: SilverConf,
                 now: Timestamp): Long = {
    val job = s"silver_${conf.entity}"
    failSafe(spark, paths, job, now) {
    val wm = Watermarks.read(spark, paths.control, job)
    val bronze = spark.read.parquet(paths.bronze(conf.entity))
    val inc0 = wm.map(ts => bronze
      .filter(col("load_date") >= to_date(lit(ts)))
      .filter(col("raw_loaded_at") > lit(ts))).getOrElse(bronze)
    // one pass for emptiness + count + new watermark
    val stats = inc0.agg(count(lit(1)), max(col("raw_loaded_at"))).head()
    if (stats.getLong(0) == 0L) {
      Watermarks.advance(spark, paths.control, job, None, "OK:empty", now)
      0L
    } else {
      val cleaned = conf.clean(inc0)
      val flagged = conf.flags.foldLeft(cleaned) { case (df, (name, expr)) =>
        df.withColumn(name, expr)
      }
      val layout = Seq("archive_month", "key_bucket")
      val prepared = Scd2.prepare(flagged, conf.businessCols, "raw_loaded_at")
        .withColumn("archive_month", lit(0))
        .withColumn("key_bucket", keyBucket(conf.keys, DimBuckets))
      val target = paths.silver(conf.entity)
      val stamp = (df: DataFrame) => df.withColumn("archive_month",
        when(col("is_current"), lit(0))
          .otherwise(date_format(col("valid_to"), "yyyyMM").cast("int")))
      val exists = AtomicRewrite.exists(spark, target)
      // one-time migrations: pre-layout tables (neither column) and
      // month-only tables (no key_bucket) both take the full-write path.
      // The manifest header answers for partition-committed tables
      // without building a DataFrame (schema inference re-lists every
      // partition dir of the two-level layout — per batch, for a probe
      // whose answer is almost always "current layout")
      val legacy = exists && {
        AtomicRewrite.partitionColsOf(spark, target) match {
          case Some(cols) => cols != layout
          case None =>
            val cs = AtomicRewrite.read(spark, target).columns
            !cs.contains("archive_month") || !cs.contains("key_bucket")
        }
      }
      if (!exists || legacy) {
        // bootstrap (or one-time migration): full merge, full
        // two-level hive-partitioned snapshot
        val history =
          if (exists) {
            val h = AtomicRewrite.read(spark, target)
            val h1 = // aligns schema; restamped below
              if (h.columns.contains("archive_month")) h
              else h.withColumn("archive_month", lit(0))
            if (h1.columns.contains("key_bucket")) h1
            else h1.withColumn("key_bucket", keyBucket(conf.keys, DimBuckets))
          } else prepared.limit(0)
        val next = stamp(Scd2.apply(history, prepared, conf.keys, conf.orderCols))
        AtomicRewrite.write(spark, target, next, layout,
          bucketCount = Some(DimBuckets))
      } else {
        val history = AtomicRewrite.read(spark, target)
        // persisted: the bucket-set collect would otherwise re-run the
        // whole bronze-read/clean/prepare pipeline a second time when
        // the merge materializes
        val prep = prepared.persist()
        // the batch's bucket set — tiny — prunes the hot read AS A
        // LITERAL PREDICATE (plan-time partition pruning; a semi-join
        // would depend on dynamic partition pruning firing): untouched
        // keys' current rows are bystanders in OTHER bucket dirs and
        // ride the manifest (the point of the second partition level)
        val bucketRows = prep.select(col("key_bucket")).distinct().collect()
        val current = history.filter(col("archive_month") === 0 &&
          AtomicRewrite.partitionPredicate(Seq("key_bucket"), bucketRows.toSeq))
        val merged = stamp(
          Scd2.apply(current, prep, conf.keys, conf.orderCols)).persist()
        // dirs to replace: the touched hot buckets ∪ the (month, bucket)
        // dirs gaining newly-closed rows; existing closed rows of those
        // dirs must ride along (a partition commit replaces whole dirs)
        val closedPairs = merged.filter(col("archive_month") =!= 0)
          .select(col("archive_month"), col("key_bucket")).distinct().collect()
        val pairRows = (closedPairs.toSeq ++ bucketRows.toSeq.map(r =>
          org.apache.spark.sql.Row(0, r.getInt(0)))).distinct
        val replaced = AtomicRewrite.literalFrame(spark, pairRows,
          org.apache.spark.sql.types.StructType(
            layout.map(c => history.schema(c))))
        val existing =
          if (closedPairs.isEmpty) merged.limit(0)
          else history.filter(
            AtomicRewrite.partitionPredicate(layout, closedPairs.toSeq))
        AtomicRewrite.writePartitions(spark, target,
          merged.unionByName(existing), layout,
          replaced = Some(replaced), bucketCount = Some(DimBuckets))
        merged.unpersist(); prep.unpersist()
      }
      Watermarks.advance(spark, paths.control, job,
        Option(stats.getTimestamp(1)), "OK", now)
      stats.getLong(0)
    }
    }
  }

  // ---- gold dims --------------------------------------------------------

  /** Current silver rows, partition-pruned: when the table carries the
    * `archive_month` layout the scan reads ONLY the hot partition (0)
    * instead of filtering `is_current` across all-time history. */
  def silverCurrent(spark: SparkSession, paths: Paths, entity: String): DataFrame = {
    val silver = AtomicRewrite.read(spark, paths.silver(entity))
    if (silver.columns.contains("archive_month"))
      silver.filter(col("archive_month") === 0 && col("is_current"))
    else silver.filter(col("is_current"))
  }

  /** Hive-partition dir count for the silver hot partition and the
    * snapshot/SCD3 dims: a stable hash of the business key, so a key
    * NEVER changes partition and a batch's commit rewrites only the
    * buckets its keys hash into — cost per batch ≈ touched_buckets ×
    * bucket_size, proportional to batch SPREAD, never to table size.
    * 64 dirs fits the test scale; at a 10⁹-key table size the count so
    * each bucket is ~a few parquet files (the grain is a config choice,
    * like the fact month partition). The count is a TABLE-LIFETIME
    * constant, exactly like hive bucketing: changing it on an existing
    * table remaps keys across dirs and corrupts partition-sliced merges
    * — migrate through a full rewrite instead. */
  val DimBuckets = 64

  private[pipeline] def keyBucket(keys: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int")

  /** SCD1 snapshot dim: silver current rows upserted on key (reference
    * M4 snapshot variant), guarded on ANY newer version — not
    * newer-AND-changed-hash: scd_hash covers the business columns, so a
    * same-hash newer version carries identical content and the update
    * only advances `raw_loaded_at`; guarding on the hash too would
    * leave an A→B→A oscillation's row permanently below the watermark,
    * re-selected (and its bucket re-committed) on every subsequent run
    * (the same strand `goldScd3` fixed).
    *
    * The dim is hive-partitioned by `key_bucket` (stable key hash,
    * [[DimBuckets]] dirs) and merges INCREMENTALLY at partition
    * granularity: only silver rows newer than the dim's control-table
    * watermark are merged (an O(1) read — deriving the watermark from
    * max(raw_loaded_at) over the dim would rescan every bucket per
    * batch), and only buckets holding an affected key are rewritten;
    * every other bucket carries across the commit by manifest
    * reference. The previous full-snapshot write restaged every key per
    * batch — at a 10⁹-key dim the same O(table)-per-batch scale bug the
    * hist dim had. */
  def goldScd1Snapshot(spark: SparkSession, paths: Paths, entity: String,
                       keys: Seq[String], now: Timestamp,
                       buckets: Int = DimBuckets): Unit = {
    val job = s"gold_dim_${entity}_snapshot"
    failSafe(spark, paths, job, now) {
    val cur0 = silverCurrent(spark, paths, entity)
      .drop("valid_from", "valid_to", "is_current", "archive_month", "key_bucket")
    val target = paths.gold(s"dim_${entity}_snapshot")
    val stamp = (df: DataFrame) =>
      df.withColumn("key_bucket", keyBucket(keys, buckets))
    val exists = AtomicRewrite.exists(spark, target)
    val wm = Watermarks.read(spark, paths.control, job)
    val inc = wm.map(ts => cur0.filter(col("raw_loaded_at") > lit(ts)))
      .getOrElse(cur0)
    // one pass for emptiness + the new watermark
    val stats = inc.agg(count(lit(1)), max(col("raw_loaded_at"))).head()
    if (exists && stats.getLong(0) == 0L) {
      Watermarks.advance(spark, paths.control, job, None, "OK:empty", now)
      return
    }
    val cur = stamp(inc.withColumn("dwh_loaded_at", lit(now))).persist()
    if (!exists) {
      AtomicRewrite.write(spark, target, cur, Seq("key_bucket"),
        bucketCount = Some(buckets))
    } else {
      // one-time migration of a pre-layout dim: same rows, bucketed layout
      val dim0 = AtomicRewrite.read(spark, target)
      val dim =
        if (dim0.columns.contains("key_bucket")) dim0
        else {
          AtomicRewrite.write(spark, target, stamp(dim0), Seq("key_bucket"),
            bucketCount = Some(buckets))
          AtomicRewrite.read(spark, target)
        }
      // one batch's bucket set — tiny — collected into a literal frame:
      // prunes the target read AND severs the self-join lineage
      val bucketRows = cur.select(col("key_bucket")).distinct().collect()
      val bks = AtomicRewrite.literalFrame(spark, bucketRows.toSeq,
        org.apache.spark.sql.types.StructType(Seq(dim.schema("key_bucket"))))
      // literal predicate → plan-time partition pruning of the dim scan
      val slice = dim.filter(
        AtomicRewrite.partitionPredicate(Seq("key_bucket"), bucketRows.toSeq))
      AtomicRewrite.writePartitions(spark, target,
        Upsert.scd1(slice, cur, keys,
          updateWhen = (t, s) => s("raw_loaded_at") > t("raw_loaded_at")),
        Seq("key_bucket"), replaced = Some(bks), bucketCount = Some(buckets))
    }
    cur.unpersist()
    Watermarks.advance(spark, paths.control, job,
      Option(stats.getTimestamp(1)), "OK", now)
    }
  }

  /** SCD2 hist dim, merged INCREMENTALLY as an affected-KEY slice
    * replacement: keys with silver versions newer than the hist dim's own
    * watermark get their COMPLETE silver history copied in (valid_to /
    * is_current carried from silver, which owns the lifecycle); every
    * other key's rows pass through untouched. This keeps hist exactly ≡
    * silver per key even when the hist job lags several silver batches
    * (a latest-per-key SCD2 fold would silently drop the intermediate
    * versions — the reference's own incremental merge,
    * hist/dim_driver.py:215-289, has that flaw).
    *
    * The table carries silver's `archive_month` layout (0 = current
    * rows, else yyyyMM of `valid_to`) and COMMITS AT PARTITION
    * GRANULARITY: only months whose CONTENT actually changed are
    * rewritten — discovered by a two-way `exceptAll` between the
    * affected keys' silver history and their hist rows (ignoring the
    * `dwh_loaded_at` stamp). A long-lived key's untouched old months are
    * bystanders even though the merge semantically replaces the key's
    * whole history: a new version only changes the hot partition and the
    * month its closed-out predecessor archives into, so only those are
    * staged (measured: with 100-month histories the conservative
    * touched-months rule restaged the whole table; the content diff
    * keeps the commit at O(current + batch)). Every other month rides
    * the manifest — zero bytes restaged; a batch that changes nothing
    * burns no version at all. The watermark reads only the hot
    * partition (every key's newest version is its current row, so the
    * global max(raw_loaded_at) lives there). */
  def goldScd2Hist(spark: SparkSession, paths: Paths, entity: String,
                   keys: Seq[String], now: Timestamp): Unit = {
    val target = paths.gold(s"dim_${entity}_hist")
    val silver = AtomicRewrite.read(spark, paths.silver(entity))
      .drop("archive_month", "key_bucket") // restamped below; hist owns its layout
    val stamp = (df: DataFrame) => df.withColumn("archive_month",
      when(col("is_current"), lit(0))
        .otherwise(date_format(col("valid_to"), "yyyyMM").cast("int")))
    val exists = AtomicRewrite.exists(spark, target)
    if (!exists) {
      AtomicRewrite.write(spark, target,
        stamp(silver.withColumn("dwh_loaded_at", lit(now))),
        Seq("archive_month"))
      return
    }
    // one-time migration of a pre-layout hist: re-commit the same rows
    // hive-partitioned (dwh stamps preserved), then merge incrementally
    val history0 = AtomicRewrite.read(spark, target)
    val history =
      if (history0.columns.contains("archive_month")) history0
      else {
        AtomicRewrite.write(spark, target, stamp(history0), Seq("archive_month"))
        AtomicRewrite.read(spark, target)
      }
    // Option-wrap: an empty hist yields a NULL max, and `col > NULL`
    // would silently drop every incremental row forever
    val wm = Option(history.filter(col("archive_month") === 0)
      .agg(max(col("raw_loaded_at"))).head().getTimestamp(0))
    val affected = wm.map(ts => silver.filter(col("raw_loaded_at") > lit(ts)))
      .getOrElse(silver)
      .select(keys.map(col): _*).distinct().persist()
    if (wm.isDefined && affected.isEmpty) { affected.unpersist(); return }
    // persisted: the affected keys' silver history feeds the month
    // discovery AND the write slice — unpersisted it would re-run the
    // silver semi-join (a full silver scan) twice per batch
    val silverAff = stamp(silver.join(broadcast(affected), keys, "left_semi"))
      .persist()
    val histAff = history.join(broadcast(affected), keys, "left_semi").persist()
    // months to rewrite: exactly where the affected keys' CONTENT differs
    // between silver and hist (dwh stamp excluded — it differs by
    // definition). Catches: the hot partition (current flips), the month
    // a closed-out version archives into, months vacated by silver
    // retention. Does NOT catch — by design — the affected keys'
    // unchanged old months, which the conservative replace-all-their-rows
    // rule restaged wholesale. The set is one batch's months — tiny — so
    // it collects into a literal frame, severing the target-derived
    // lineage before the semi-join back.
    val cmpCols = history.columns.toIndexedSeq.filterNot(_ == "dwh_loaded_at")
    val monthRows = silverAff.select(cmpCols.map(col): _*)
      .exceptAll(histAff.select(cmpCols.map(col): _*))
      .select(col("archive_month"))
      .unionByName(histAff.select(cmpCols.map(col): _*)
        .exceptAll(silverAff.select(cmpCols.map(col): _*))
        .select(col("archive_month")))
      .distinct().collect()
    if (monthRows.isEmpty) {
      // replayed batch: every affected key's history is already identical
      // — nothing to stage, no version burned
      silverAff.unpersist(); histAff.unpersist(); affected.unpersist()
      return
    }
    val months = AtomicRewrite.literalFrame(spark, monthRows.toSeq,
      org.apache.spark.sql.types.StructType(Seq(history.schema("archive_month"))))
    // literal month predicate: plan-time partition pruning (a semi-join
    // would rely on dynamic pruning firing), null-SAFE via `<=>` — a
    // NULL archive_month is a legal partition dir whose bystanders must
    // ride the rewrite
    val monthPred =
      AtomicRewrite.partitionPredicate(Seq("archive_month"), monthRows.toSeq)
    val replacement = silverAff.filter(monthPred)
      .withColumn("dwh_loaded_at", lit(now))
      .select(history.columns.toIndexedSeq.map(col): _*)
    val slice = history.filter(monthPred)
      .join(broadcast(affected), keys, "left_anti")
      .unionByName(replacement)
    AtomicRewrite.writePartitions(spark, target, slice, Seq("archive_month"),
      replaced = Some(months))
    silverAff.unpersist(); histAff.unpersist()
    affected.unpersist()
  }

  /** SCD3 dim: current + prev_* columns. The bootstrap seeds prev from
    * silver history (rank-1/rank-2, reference
    * scd3/dim_driver.py:48-81); after that the dim merges INCREMENTALLY
    * and prev_* is CARRIED THROUGH THE MERGE (reference
    * scd3/dim_driver.py:221-244): on a guarded update (newer ts AND
    * changed hash) the superseded value comes from the batch's own
    * intermediate version when the batch carries one, else from the
    * dim's old current row. The previous implementation re-derived
    * rank-1/rank-2 from silver history on EVERY run — an O(all-history)
    * rebuild per batch that also silently NULLed prev once silver
    * retention trimmed the rank-2 version; carrying prev through the
    * merge costs O(batch) and survives trims. */
  def goldScd3(spark: SparkSession, paths: Paths, entity: String,
               key: String, trackCols: Seq[String], now: Timestamp,
               buckets: Int = DimBuckets): Unit = {
    val job = s"gold_dim_${entity}_scd3"
    failSafe(spark, paths, job, now) {
    val target = paths.gold(s"dim_${entity}_scd3")
    val silver = AtomicRewrite.read(spark, paths.silver(entity))
      .drop("archive_month", "key_bucket")
    val order = Seq(col("valid_from").desc, col("scd_hash").desc)
    val stamp = (df: DataFrame) =>
      df.withColumn("key_bucket", keyBucket(Seq(key), buckets))
    // __has_intermediate marks that a rank-2 row EXISTS — prev-carry must
    // gate on row presence, not on the tracked value: an intermediate
    // version whose tracked column is legitimately NULL is
    // indistinguishable from "no intermediate" through a value coalesce,
    // and would wrongly inherit the dim's old current value
    def withPrev(df: DataFrame) = Dedup.nthPerKey(df, Seq(col(key)), order, 1)
      .join(Dedup.nthPerKey(df, Seq(col(key)), order, 2)
        .select(col(key) +: (lit(true).as("__has_intermediate") +:
          trackCols.map(c => col(c).as(s"prev_$c"))): _*),
        Seq(key), "left")
      .withColumn("dwh_loaded_at", lit(now))
    if (!AtomicRewrite.exists(spark, target)) {
      AtomicRewrite.write(spark, target,
        stamp(withPrev(silver).drop("__has_intermediate")), Seq("key_bucket"),
        bucketCount = Some(buckets))
      Watermarks.advance(spark, paths.control, job,
        Option(silver.agg(max(col("raw_loaded_at"))).head().getTimestamp(0)),
        "OK", now)
      return
    }
    // one-time migration of a pre-layout dim: same rows, bucketed layout
    // (key_bucket = stable key hash, so commits below stay O(touched
    // buckets) — the goldScd1Snapshot layout, same rationale)
    val dim0 = AtomicRewrite.read(spark, target)
    val dim =
      if (dim0.columns.contains("key_bucket")) dim0
      else {
        AtomicRewrite.write(spark, target, stamp(dim0), Seq("key_bucket"),
          bucketCount = Some(buckets))
        AtomicRewrite.read(spark, target)
      }
    // control-table watermark: O(1), instead of re-scanning every bucket
    // of the dim for max(raw_loaded_at) per batch
    val wm = Watermarks.read(spark, paths.control, job)
    val inc = wm.map(ts => silver.filter(col("raw_loaded_at") > lit(ts)))
      .getOrElse(silver)
    val stats = inc.agg(count(lit(1)), max(col("raw_loaded_at"))).head()
    if (stats.getLong(0) == 0L) {
      Watermarks.advance(spark, paths.control, job, None, "OK:empty", now)
      return
    }
    // batch rank-1 = candidate new current; batch rank-2 = intra-batch
    // previous (NULL unless the dim lagged several silver versions)
    val cols = dim.columns.toSeq
    // the batch's bucket set — tiny — prunes the merge to affected
    // buckets: bystander buckets ride the manifest untouched
    val sAll = stamp(withPrev(inc)).persist()
    val bucketRows = sAll.select(col("key_bucket")).distinct().collect()
    val bks = AtomicRewrite.literalFrame(spark, bucketRows.toSeq,
      org.apache.spark.sql.types.StructType(Seq(dim.schema("key_bucket"))))
    // literal predicate → plan-time partition pruning of the dim scan
    val t = dim.filter(
      AtomicRewrite.partitionPredicate(Seq("key_bucket"), bucketRows.toSeq))
      .alias("t")
    val s = sAll
      .select(cols.map(col) :+ col("__has_intermediate"): _*).alias("s")
    val joined = t.join(s, t(key) <=> s(key), "full_outer")
    val tgtPresent = t(key).isNotNull
    val srcPresent = s(key).isNotNull
    // ANY newer silver version updates the row — guarding additionally
    // on changed hash (the reference's cond) would strand an A→B→A
    // oscillation: the batch's rank-1 hashes equal to the dim's current,
    // the row would never advance raw_loaded_at, and the intermediate B
    // would be lost while every later run re-reads the stale rows
    val newer = s("raw_loaded_at") > t("raw_loaded_at")
    val changed = s("scd_hash") =!= t("scd_hash")
    val prevBase = trackCols.map(c => s"prev_$c" -> c).toMap
    val hasIntermediate = coalesce(s("__has_intermediate"), lit(false))
    val next = joined.select(cols.map { c =>
      // updated row's prev_<c>: the batch's own intermediate version when
      // one exists (gated on the row's PRESENCE — its value may be a
      // legitimate NULL); else the superseded current value on a business
      // change; else (same-hash catch-up with no intermediate) keep prev
      val merged = prevBase.get(c)
        .map(b => when(hasIntermediate, s(c))
          .otherwise(when(changed, t(b)).otherwise(t(c))))
        .getOrElse(s(c))
      when(!tgtPresent, s(c))     // new key → insert (prev from batch or NULL)
        .when(!srcPresent, t(c))  // no new version → keep
        .when(newer, merged)      // newer version → update, carry prev
        .otherwise(t(c))          // stale replay → keep
        .as(c)
    }: _*)
    AtomicRewrite.writePartitions(spark, target, next, Seq("key_bucket"),
      replaced = Some(bks), bucketCount = Some(buckets))
    sAll.unpersist()
    Watermarks.advance(spark, paths.control, job,
      Option(stats.getTimestamp(1)), "OK", now)
    }
  }

  /** Date dimension spanning the observed range of `tsCol` in `src`. */
  def goldDimDate(spark: SparkSession, paths: Paths, src: DataFrame,
                  tsCol: String): Unit = {
    val bounds = src.agg(
      to_date(min(col(tsCol))).as("mn"), to_date(max(col(tsCol))).as("mx"))
    val dim = DateKeys.spine(bounds)
    val unknown = spark.range(1).select(
      (lit(0).as("date_key") +: dim.columns.toIndexedSeq.filter(_ != "date_key")
        .map(c => lit(null).cast(dim.schema(c).dataType).as(c))): _*)
    AtomicRewrite.write(spark, paths.gold("dim_date"),
      unknown.unionByName(dim))
  }

  // ---- facts & aggregates ----------------------------------------------

  /** Fact build: new-since-watermark silver current rows → date keys +
    * dim-key validation to 0, M4 upsert on the business key. `dimKeys` maps
    * fact FK column → (dim table entity, dim key column).
    *
    * With `partitionBy` (normally `date_key`) the upsert commits at
    * PARTITION granularity via [[AtomicRewrite.writePartitions]]: only
    * partitions holding new rows — plus any partition a matched key is
    * moving out of — are merged and rewritten; the rest of the fact's
    * history carries across the commit by manifest reference. That is the
    * O(batch)-not-O(table) property every incremental merge needs at
    * 100 TB (the reference gets it from Delta's file pruning). The
    * incremental cut uses the fact's own max(raw_loaded_at), so a lagging
    * fact job catches up over multiple silver batches in one run. */
  def goldFact(spark: SparkSession, paths: Paths, factName: String,
               silverEntity: String, keys: Seq[String],
               dateKeyFrom: Seq[String],
               dimKeys: Map[String, (String, String)], now: Timestamp,
               partitionBy: Seq[String] = Nil,
               derive: Seq[(String, Column)] = Nil): Unit =
      failSafe(spark, paths, s"gold_$factName", now) {
    val target = paths.gold(factName)
    val exists = AtomicRewrite.exists(spark, target)
    val silverCur = silverCurrent(spark, paths, silverEntity)
      .drop("valid_from", "valid_to", "is_current", "archive_month", "key_bucket")
    // incremental cut from the fact's OWN control-table watermark (the
    // bronze/silver mechanism) — deriving it from max(raw_loaded_at)
    // over the fact would add an O(table) scan to an O(batch) commit
    val wm = Watermarks.read(spark, paths.control, s"gold_$factName")
    val inc = wm.map(ts => silverCur.filter(col("raw_loaded_at") > lit(ts)))
      .getOrElse(silverCur)
    val stats = inc.agg(count(lit(1)), max(col("raw_loaded_at"))).head()
    if (exists && stats.getLong(0) == 0L) {
      Watermarks.advance(spark, paths.control, s"gold_$factName", None, "OK:empty", now)
    } else {
      // derived columns (e.g. a month_key partition grain: daily partitions
      // are right when each day is GBs; a coarser stored grain keeps the
      // partition count sane when days are small)
      val cur = derive.foldLeft(
        inc.withColumn("date_key", DateKeys.dateKey(dateKeyFrom.map(col)))) {
        case (df, (n, c)) => df.withColumn(n, c)
      }
      val validated = dimKeys.foldLeft(cur) { case (df, (fk, (dimEntity, dimKey))) =>
        val dim = AtomicRewrite.read(spark, paths.gold(s"dim_${dimEntity}_snapshot"))
          .select(col(dimKey).as(s"__dim_$fk")).distinct()
        df.join(broadcast(dim), col(fk) === col(s"__dim_$fk"), "left")
          .withColumn(s"${fk}_key",
            coalesce(col(s"__dim_$fk"), lit(0L)))
          .drop(s"__dim_$fk")
      }.withColumn("dwh_loaded_at", lit(now))
      val guard = (t: Upsert.ColRef, s: Upsert.ColRef) =>
        s("raw_loaded_at") > t("raw_loaded_at")
      if (!exists) {
        if (partitionBy.isEmpty) AtomicRewrite.write(spark, target, validated)
        else AtomicRewrite.writePartitions(spark, target, validated, partitionBy)
      } else if (partitionBy.isEmpty) {
        AtomicRewrite.write(spark, target,
          Upsert.scd1(AtomicRewrite.read(spark, target), validated, keys, guard))
      } else {
        val full = AtomicRewrite.read(spark, target)
        // affected partitions = where new rows land ∪ where matched keys
        // currently live (an update may move a row across partitions; the
        // vacated partition must be rewritten without it). The set is one
        // batch's partition values — tiny by design — so it collects and
        // re-broadcasts as a literal frame, which also severs the
        // target-derived lineage before the semi-join back on the target.
        val srcKeys = validated.select(keys.map(col): _*).distinct()
        val affectedRows = validated.select(partitionBy.map(col): _*)
          .unionByName(full.join(broadcast(srcKeys), keys, "left_semi")
            .select(partitionBy.map(col): _*))
          .distinct().collect()
        val affected = AtomicRewrite.literalFrame(spark, affectedRows.toSeq,
          org.apache.spark.sql.types.StructType(
            partitionBy.map(c => full.schema(c))))
        // literal predicate → plan-time partition pruning of the fact scan
        val slice = full.filter(
          AtomicRewrite.partitionPredicate(partitionBy, affectedRows.toSeq))
        AtomicRewrite.writePartitions(spark, target,
          Upsert.scd1(slice, validated, keys, guard), partitionBy,
          replaced = Some(affected))
      }
      Watermarks.advance(spark, paths.control, s"gold_$factName",
        Option(stats.getTimestamp(1)), "OK", now)
    }
  }

  /** Incremental aggregate with affected-partition recompute: only
    * `date_key`s present in fact rows newer than the agg's own watermark
    * are rebuilt (reference: agg_trips_daily.py:83-113). */
  def goldAggDaily(spark: SparkSession, paths: Paths, factName: String,
                   aggName: String, aggs: Seq[Column]): Unit =
    goldAggIncremental(spark, paths, aggName,
      AtomicRewrite.read(spark, paths.gold(factName)), Seq("date_key"), aggs)

  /** Incremental aggregate over an arbitrary COMPOSITE grain: only key
    * combinations present in source rows newer than the aggregate's own
    * watermark are recomputed, then merged with a newer-watermark guard
    * (reference agg_driver_daily.py:141-162,245-282 — the
    * (trip_date, driver_id) merge). First run aggregates the full source.
    *
    * Scale: the affected-key set of one batch is tiny relative to
    * all-time history, so it broadcasts into the source scan; the rebuild
    * reads only matching rows and the merge shuffles on the grain key —
    * all-time history is never re-aggregated. Rows with a NULL grain key
    * are excluded (reference dropna on trip_date).
    *
    * CONSTRAINT (shared with the reference's agg design): grain values
    * must be immutable per source key. The affected set is derived from
    * rows NEWER than the watermark, so if an SCD1 update MOVES a key to a
    * different grain value (e.g. a corrected date_key), the departed
    * grain is not in the affected set and keeps the old row's
    * contribution until something else touches it. Facts whose grain can
    * be corrected repair the departed grains with [[rebuildGrains]] (the
    * vacated-partition analog for aggregates); the daily runner's fact
    * path handles the same move at the PARTITION level (vacated
    * partitions are rewritten). */
  def goldAggIncremental(spark: SparkSession, paths: Paths, aggName: String,
                         source: DataFrame, keyCols: Seq[String],
                         aggs: Seq[Column],
                         partitionBy: Seq[String] = Nil,
                         decorate: DataFrame => DataFrame = identity): Unit = {
    require(partitionBy.forall(keyCols.contains),
      "agg partition columns must be grain columns")
    val target = paths.gold(aggName)
    val exists = AtomicRewrite.exists(spark, target)
    val base = source.na.drop("any", keyCols)
    val wm: Option[Timestamp] =
      if (!exists) None
      else Option(AtomicRewrite.read(spark, target)
        .agg(max(col("max_fact_raw_loaded_at"))).head().getTimestamp(0))
    val newRows = wm.map(ts => base.filter(col("raw_loaded_at") > lit(ts)))
      .getOrElse(base)
    if (wm.isDefined && newRows.isEmpty) ()
    else {
      val slice0 =
        if (wm.isEmpty) base // first run: full aggregate, no self-join needed
        else {
          val affected = newRows.select(keyCols.map(col): _*).distinct()
          base.join(broadcast(affected), keyCols)
        }
      // decorate (J5): calendar/dim attributes joined onto the rebuilt
      // grain slice BEFORE the merge, so the stored aggregate carries them
      // (reference: agg_trips_daily.py:146-157 — agg ⋈ dim_date)
      val slice = decorate(slice0
        .groupBy(keyCols.map(col): _*)
        .agg(aggs.head, aggs.tail :+
          max(col("raw_loaded_at")).as("max_fact_raw_loaded_at"): _*))
      val guard = (t: Upsert.ColRef, s: Upsert.ColRef) =>
        s("max_fact_raw_loaded_at") > t("max_fact_raw_loaded_at")
      if (!exists) {
        if (partitionBy.isEmpty) AtomicRewrite.write(spark, target, slice)
        else AtomicRewrite.writePartitions(spark, target, slice, partitionBy)
      } else if (partitionBy.isEmpty) {
        AtomicRewrite.write(spark, target,
          Upsert.scd1(AtomicRewrite.read(spark, target), slice, keyCols, guard))
      } else {
        // partition-level merge: the rebuilt slice covers complete grain
        // partitions (partition cols ⊆ grain cols), so only those
        // partitions are rewritten; all-time history rides the manifest.
        // The partition-value set is one batch's — tiny — and collects
        // into a literal frame, severing the slice-derived lineage before
        // it joins back against the merge target (ambiguous-self-join).
        val partRows = slice.select(partitionBy.map(col): _*).distinct().collect()
        val parts = AtomicRewrite.literalFrame(spark, partRows.toSeq,
          org.apache.spark.sql.types.StructType(
            partitionBy.map(c => slice.schema(c))))
        // literal predicate → plan-time partition pruning of the agg scan
        val targetSlice = AtomicRewrite.read(spark, target).filter(
          AtomicRewrite.partitionPredicate(partitionBy, partRows.toSeq))
        AtomicRewrite.writePartitions(spark, target,
          Upsert.scd1(targetSlice, slice, keyCols, guard), partitionBy,
          replaced = Some(parts))
      }
    }
  }

  /** Corrective rebuild of NAMED grains (the repair for
    * [[goldAggIncremental]]'s grain-immutability constraint): each grain
    * in `grains` is recomputed from the full `source` and REPLACES the
    * stored row — including deletion when a vacated grain now has zero
    * source rows, which no watermark-guarded merge can express. Call it
    * after a correction that moved keys across grains, passing the
    * departed (and optionally the receiving) grain values.
    *
    * Scale: the named-grain set is tiny by construction (one
    * correction's worth), so it broadcasts into the source scan; only
    * matching rows are re-aggregated and, for a partitioned aggregate,
    * only partitions holding a named grain are rewritten — never a full
    * rebuild. Idempotent: replaying the same repair recomputes the same
    * rows. */
  def rebuildGrains(spark: SparkSession, paths: Paths, aggName: String,
                    source: DataFrame, keyCols: Seq[String],
                    aggs: Seq[Column], grains: DataFrame,
                    partitionBy: Seq[String] = Nil,
                    decorate: DataFrame => DataFrame = identity): Unit = {
    require(partitionBy.forall(keyCols.contains),
      "agg partition columns must be grain columns")
    val target = paths.gold(aggName)
    require(AtomicRewrite.exists(spark, target),
      s"rebuildGrains target does not exist: $target")
    val g = grains.select(keyCols.map(col): _*).distinct()
    if (g.isEmpty) return // no named grains → no rewrite, no version burned
    val rebuilt = decorate(source.na.drop("any", keyCols)
      .join(broadcast(g), keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail :+
        max(col("raw_loaded_at")).as("max_fact_raw_loaded_at"): _*))
    val stored = AtomicRewrite.read(spark, target)
    if (partitionBy.isEmpty) {
      AtomicRewrite.write(spark, target,
        stored.join(broadcast(g), keyCols, "left_anti").unionByName(rebuilt))
    } else {
      // partitions holding a named grain: one repair's worth — tiny —
      // collected into a literal frame (pruning + severed lineage)
      val partRows = g.select(partitionBy.map(col): _*).distinct().collect()
      if (partRows.isEmpty) return
      val parts = AtomicRewrite.literalFrame(spark, partRows.toSeq,
        org.apache.spark.sql.types.StructType(
          partitionBy.map(c => stored.schema(c))))
      // literal predicate → plan-time partition pruning of the agg scan
      val partSlice = stored.filter(
          AtomicRewrite.partitionPredicate(partitionBy, partRows.toSeq))
        .join(broadcast(g), keyCols, "left_anti")
        .unionByName(rebuilt)
      AtomicRewrite.writePartitions(spark, target, partSlice, partitionBy,
        replaced = Some(parts))
    }
  }
}
