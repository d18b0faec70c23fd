package graft.pipeline

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.sql.Timestamp

/** End-to-end medallion flow over the driver testdata star (the reference's
  * scripts/run/ DAG re-expressed as one in-code registry): bronze extracts
  * for customer + orders, silver SCD2 for both, gold dims (snapshot, SCD3,
  * date spine), fact_orders with key validation, and the incremental daily
  * aggregate. Re-runnable: a second invocation is a watermark-guarded no-op.
  */
object Runner {

  val FixedNow: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")

  /** Run every stage into `root` and return agg_orders_daily. */
  def runAll(spark: SparkSession, sfDir: String, root: String,
             now: Timestamp = FixedNow, batchId: String = "batch-0"): DataFrame = {
    val customer = Tables.load(spark, sfDir, "customer")
      .withColumn("updated_at", to_timestamp(lit("2020-01-01 00:00:00")))
    runBatch(spark, root, customer, Tables.load(spark, sfDir, "orders"),
      now, batchId)
  }

  /** Daemon pool for independent pipeline branches. Spark's scheduler is
    * built for concurrent job submission from multiple driver threads —
    * each branch's jobs interleave across the executor cores instead of
    * leaving them idle during another branch's narrow stages. Sized small:
    * branches, not tasks, are the unit of concurrency here. Shared with
    * [[CurationRunner]] (same unit of concurrency, one pool). */
  private[pipeline] lazy val branchEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-pipeline-branch")
        t.setDaemon(true); t
      }))

  /** Settle a set of concurrent branches: rethrow the FIRST failure
    * with every sibling failure attached via addSuppressed (the
    * [[Gdpr.forgetStoresStaged]] aggregation rule) — when two branches
    * fail together, neither side's diagnostics are lost. */
  private[graft] def settleAll(settled: Seq[scala.util.Try[_]]): Unit =
    settled.flatMap(_.failed.toOption) match {
      case Seq() => ()
      case first +: rest => rest.foreach(first.addSuppressed); throw first
    }

  /** One pipeline batch from explicit sources (runAll = batch over the sf
    * tables; incremental harnesses feed later batches through the same
    * path).
    *
    * The entity chains are independent until the fact build (customer:
    * bronze → silver → SCD1 + SCD3 dims; orders: bronze → silver →
    * dim_date) and run CONCURRENTLY — the orchestration twin of the
    * reference's per-entity job scripts, which an external scheduler
    * would likewise fan out. Correctness: the chains share only the
    * control table, whose advance is serialized per root inside
    * [[graft.tx.Watermarks]]; every data table is written by exactly one
    * chain. */
  def runBatch(spark: SparkSession, root: String, customer: DataFrame,
               orders: DataFrame, now: Timestamp, batchId: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = branchEc
    val paths = Medallion.Paths(root)

    val customerChain = Future {
      Medallion.bronzeLoad(spark, paths, "customer", customer, "updated_at", batchId, now)
      Medallion.silverScd2(spark, paths, Medallion.SilverConf(
        entity = "customer",
        keys = Seq("c_custkey"),
        businessCols = Seq("c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
        flags = Seq(
          "missing_name" -> col("c_name").isNull,
          "negative_balance" -> (col("c_acctbal") < 0))), now)
      // both dims read the same committed silver snapshot — independent;
      // settle the nested future even when SCD3 throws, so the chain never
      // exits while its sibling writer is still committing
      val scd1 = Future(
        Medallion.goldScd1Snapshot(spark, paths, "customer", Seq("c_custkey"), now))
      val scd3 = scala.util.Try(
        Medallion.goldScd3(spark, paths, "customer", "c_custkey",
          Seq("c_mktsegment", "c_acctbal"), now))
      val scd1Settled = scala.util.Try(Await.result(scd1, Duration.Inf))
      settleAll(Seq(scd3, scd1Settled))
    }
    val ordersChain = Future {
      Medallion.bronzeLoad(spark, paths, "orders", orders, "o_orderdate", batchId, now)
      Medallion.silverScd2(spark, paths, Medallion.SilverConf(
        entity = "orders",
        keys = Seq("o_orderkey"),
        businessCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
        flags = Seq(
          "negative_price" -> (col("o_totalprice") < 0),
          "unknown_status" -> !col("o_orderstatus").isin("O", "F", "P"))), now)
      Medallion.goldDimDate(spark, paths,
        graft.tx.AtomicRewrite.read(spark, paths.silver("orders")), "o_orderdate")
    }
    // settle BOTH chains before propagating a failure — never unwind while
    // the sibling branch is still committing tables
    val settled = Seq(customerChain, ordersChain)
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    settleAll(settled)

    // --- fact: partition-committed on a stored month grain — an
    // incremental batch rewrites only the months it touches, never
    // all-time history. Month, not day: the orders span ~2400 days, and
    // daily dirs at this volume are the small-files anti-pattern (daily is
    // right only when each day is GBs; the grain is a config choice).
    Medallion.goldFact(spark, paths, "fact_orders", "orders",
      keys = Seq("o_orderkey"), dateKeyFrom = Seq("o_orderdate"),
      dimKeys = Map("o_custkey" -> ("customer", "c_custkey")), now = now,
      partitionBy = Seq("month_key"),
      derive = Seq("month_key" -> floor(col("date_key") / 100).cast("int")))

    // change-data-feed audit: every incremental fact commit records its
    // row-level insert/delete counts from AtomicRewrite.diff — the CDF
    // consumer that at scale drives downstream reconciliation. diff prunes
    // to the partitions the commit actually touched (manifest-aware).
    //
    // The audit only READS fact versions, so in non-compacting batches it
    // overlaps the bucketed-write + aggregate path below. In a compacting
    // batch it must complete first: compaction's vacuum retires the very
    // version (v-1) the diff reads.
    val factRoot = paths.gold("fact_orders")
    val factV = graft.tx.AtomicRewrite.currentVersion(spark, factRoot).getOrElse(0L)
    val willCompact = factV > 0 && factV % CompactEveryVersions == 0
    val auditF =
      if (willCompact) { recordFactChanges(spark, paths, "fact_orders"); None }
      else Some(Future(recordFactChanges(spark, paths, "fact_orders")))

    // the downstream path settles the audit future even on failure: an
    // unwound runBatch must never leave a detached AppendLog writer racing
    // a retry of the batch
    val tail = scala.util.Try {

    // bucketed gold fact: shuffled on the aggregation grain at WRITE time
    // so date_key rollups/equi-joins over the full fact run with zero
    // exchanges (RunnerSpec proves the plan). Refreshed on COMPACTION
    // cadence — not per batch: compaction already rewrites every byte, so
    // the bucketed copy rides along free; between compactions incremental
    // aggregates read the plain snapshot, whose date_key hive layout
    // prunes to the affected partitions.
    val compacted = willCompact && {
      graft.tx.AtomicRewrite.compact(spark, factRoot,
        clusterBy = Seq("o_custkey"), partitionBy = Seq("month_key"))
      true
    }
    val bTable = bucketedFactTable(root)
    val refreshBucketed = compacted || !spark.catalog.tableExists(bTable)
    if (refreshBucketed)
      graft.sources.Bucketed.write(
        graft.tx.AtomicRewrite.read(spark, factRoot),
        bTable, "date_key", buckets = 8)
    val aggSource =
      if (refreshBucketed) graft.sources.Bucketed.read(spark, bTable)
      else graft.tx.AtomicRewrite.read(spark, factRoot)

    // J5: the daily aggregate is decorated with dim_date calendar columns
    // before the merge (reference: agg_trips_daily.py:146-157); the dim is
    // tiny and broadcasts.
    val dimDate = broadcast(
      graft.tx.AtomicRewrite.read(spark, paths.gold("dim_date"))
        .select(col("date_key"), col("is_weekend"), col("day_name")))
    // grain = (date_key, month_key): month_key is functionally dependent
    // on date_key, so the result rows are unchanged — it exists so the
    // merged aggregate can partition-commit at month granularity too
    Medallion.failSafe(spark, paths, "gold_agg_orders_daily", now) {
      Medallion.goldAggIncremental(spark, paths, "agg_orders_daily",
        aggSource,
        Seq("date_key", "month_key"),
        Seq(
          count(lit(1)).as("orders_total"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
            .as("sum_price")),
        partitionBy = Seq("month_key"),
        decorate = _.join(dimDate, Seq("date_key"), "left"))
    }

    }
    val auditSettled = scala.util.Try(
      auditF.foreach(f => Await.result(f, Duration.Inf)))
    tail.get; auditSettled.get
    graft.tx.AtomicRewrite.read(spark, paths.gold("agg_orders_daily"))
  }

  /** Compact (and re-bucket) the fact every N partition commits — the
    * small-files amortization cadence; see the runAll comment. */
  val CompactEveryVersions = 4

  /** CDF audit: record the latest fact commit's row-level insert/delete
    * counts from [[graft.tx.AtomicRewrite.diff]] into
    * `gold/<fact>_changes`. Returns the fact's current version. The diff
    * prunes to the partitions the commit touched (manifest-aware), so the
    * audit costs O(changed partitions) — the CDF consumer that at scale
    * drives downstream reconciliation instead of full-snapshot compares. */
  def recordFactChanges(spark: SparkSession, paths: Medallion.Paths,
                        factName: String): Long = {
    val factRoot = paths.gold(factName)
    val factV = graft.tx.AtomicRewrite.currentVersion(spark, factRoot).getOrElse(0L)
    val auditRoot = paths.gold(s"${factName}_changes")
    // skip when this fact version is already audited (no-op batches leave
    // the version unchanged — re-diffing and re-appending would add a
    // duplicate record per idle batch). The tagged-file probe is ONE
    // file-exists call — no log scan per batch.
    val recorded = graft.tx.AppendLog.tagged(spark, auditRoot, s"v$factV")
    if (factV > 0 && !recorded) {
      val changes = graft.tx.AtomicRewrite.diff(spark, factRoot, factV - 1, factV)
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .withColumn("fact_version", lit(factV))
      // append-only log, one deterministically-named file per audited
      // version (idempotent replay): O(this version) written while the
      // log holds O(all versions) — the old read-union-rewrite restaged
      // all-time audit through one task per batch
      graft.tx.AppendLog.append(spark, auditRoot, changes, tag = Some(s"v$factV"))
    }
    factV
  }

  /** Catalog name of the bucketed fact_orders copy for a pipeline root
    * (bucketing metadata lives in the table catalog, not in path-read
    * parquet, so the bucketed flavor is a managed table). */
  def bucketedFactTable(root: String): String =
    "fact_orders_b_" + root.replaceAll("[^a-zA-Z0-9]", "_")

  /** Payments slice of the pipeline over the sf `orders` table re-keyed as
    * payments (payment_id/method/amount/paid_at): bronze → silver SCD2 →
    * dim_payment_method → fact_payments with surrogate-key validation.
    * The dim is built from a deliberately STALE snapshot (missing the
    * '1-urgent' method) so the fact's validation-to-0 path is exercised:
    * a method the static dim has never seen must land with
    * payment_method_key = 0, never a dangling surrogate. */
  def runPayments(spark: SparkSession, sfDir: String, root: String,
                  now: Timestamp = FixedNow): DataFrame = {
    val paths = Medallion.Paths(root)
    val payments = Tables.load(spark, sfDir, "orders").select(
      col("o_orderkey").as("payment_id"),
      col("o_custkey").as("trip_id"),
      col("o_orderpriority").as("method"),
      lit("paid").as("status"),
      col("o_totalprice").as("amount"),
      col("o_orderdate").as("paid_at"),
      col("o_orderdate").as("updated_at"))
    Medallion.bronzeLoad(spark, paths, "payments", payments, "updated_at", "b0", now)
    Medallion.silverScd2(spark, paths, Medallion.SilverConf(
      entity = "payments", keys = Seq("payment_id"),
      businessCols = Seq("trip_id", "method", "status", "amount", "paid_at"),
      clean = df => df.withColumn("method", lower(trim(col("method"))))), now)
    // stale dim: built before any '1-urgent' payment existed
    graft.tx.AtomicRewrite.write(spark, paths.gold("dim_payment_method"),
      graft.domain.MobilityDomain.dimPaymentMethod(
        graft.tx.AtomicRewrite.read(spark, paths.silver("payments"))
          .filter(col("method") =!= "1-urgent")))
    graft.domain.MobilityDomain.factPayments(spark, paths, now)
    graft.tx.AtomicRewrite.read(spark, paths.gold("fact_payments"))
  }
}
