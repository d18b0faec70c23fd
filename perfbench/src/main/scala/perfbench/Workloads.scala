package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.core.Tables
import graft.pipeline.Runner
import graft.tx.AtomicRewrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The generated plan of one workload: `plan.tsv`, one step per line,
  * tab-separated fields, file names relative to the workload's inputs. */
class Plan(val dir: String) {
  val steps: IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(dir, "plan.tsv")).asScala
      .filter(_.nonEmpty).map(_.split("\t")).toIndexedSeq

  /** A generated table, loaded the way the program loads its sources. */
  def table(spark: SparkSession, file: String): DataFrame =
    Tables.load(spark, dir, file.stripSuffix(".parquet"))

  def bytes(file: String): Long = Files.size(Paths.get(dir, file))

  /** Row count from the parquet footers — no Spark job. */
  def rows(spark: SparkSession, file: String): Long =
    Tables.rowCount(spark, dir, file.stripSuffix(".parquet"))
}

/** `Runner.runBatch` over a generated customer/orders star: the full
  * load and a first wide batch are the set-up (the warehouse, and a warm
  * incremental path), then the loop times a narrow batch, its replay and
  * further batches while time remains, with a gold read after each. */
class MedallionWorkload(inputs: String) extends Workload {
  private val plan = new Plan(s"$inputs/medallion")
  /** Steps of the set-up: the full load and the first (wide) batch. */
  private val SetupSteps = 2
  /** Steps every run times: a narrow batch and its replay. */
  private val MinSteps = 2
  /** Tables `runBatch` writes on every call, watermark or not: the date
    * dimension is rebuilt from silver and the control table records each
    * job's status. Every other table is watermark-guarded. */
  private val Unguarded = Seq("gold/dim_date", "control")

  private def batch(spark: SparkSession, root: String, s: Array[String]): Unit =
    Runner.runBatch(spark, root, plan.table(spark, s(2)), plan.table(spark, s(3)),
      Timestamp.valueOf(s(1)), s"b-${s(1).take(10)}")

  private def readGold(spark: SparkSession, root: String): Unit =
    AtomicRewrite.read(spark, s"$root/gold/agg_orders_daily")
      .agg(sum("orders_total")).head()

  private def inputBytes(s: Array[String]) = (plan.bytes(s(2)) + plan.bytes(s(3))).toDouble

  def setup(spark: SparkSession, root: String, loop: Loop): Unit = {
    val Seq(full, first) = plan.steps.take(SetupSteps)
    loop.setupCall("full_load", "pipeline.runner.full_load", Some(root))(batch(spark, root, full))
    loop.setupCall("setup_batch", "pipeline.runner.setup_batch", Some(root))(batch(spark, root, first))
    loop.setupCall("setup_read_gold", "tx.read.gold.setup")(readGold(spark, root))
    loop.add("setup_input_bytes", inputBytes(full) + inputBytes(first))
  }

  def run(spark: SparkSession, root: String, loop: Loop, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var i = SetupSteps
    while (loop.more(i - SetupSteps, plan.steps.size - SetupSteps, MinSteps, seconds, t0)) {
      val s = plan.steps(i)
      val (kind, span) =
        if (s(0) == "replay") ("replay", "pipeline.runner.replay")
        else ("batch", "pipeline.runner.batch")
      loop.timed(kind, span, op = kind == "batch", Some(root))(batch(spark, root, s))
      if (kind == "replay")
        loop.add("replay.guarded_versions", loop.lastFresh.count(p =>
          !Unguarded.exists(u => p.contains(s"$root/$u/"))).toDouble)
      else {
        loop.add("input_rows", (plan.rows(spark, s(2)) + plan.rows(spark, s(3))).toDouble)
        loop.add("input_bytes", inputBytes(s))
      }
      loop.timed("read_gold", "tx.read.gold", op = false)(readGold(spark, root))
      i += 1
    }
    loop.add("steps", i)
    loop.add("final_bytes", Loop.bytesUnder(root).toDouble)
  }

  /** The model: the bronze watermark on `o_orderdate` drops every order
    * not newer than the newest order already loaded (late arrivals), and
    * a later version of a key replaces the earlier one. */
  def check(spark: SparkSession, root: String, loop: Loop): Seq[(String, Boolean, String)] = {
    val ran = plan.steps.take(loop.counts("steps").toInt).zipWithIndex
      .filter(_._1(0) != "replay")
    var wm: Option[Timestamp] = None
    val loaded = ran.map { case (s, i) =>
      val o = plan.table(spark, s(3))
      val inc = wm.map(t => o.filter(col("o_orderdate") > lit(t))).getOrElse(o)
      val m = inc.agg(max("o_orderdate")).head().getTimestamp(0)
      if (m != null && wm.forall(m.after)) wm = Some(m)
      inc.withColumn("__step", lit(i))
    }.reduce(_ unionByName _)
    val latest = loaded.withColumn("__rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("__step").desc)))
      .filter(col("__rn") === 1).cache()
    val expected = latest
      .groupBy(date_format(to_date(col("o_orderdate")), "yyyyMMdd").cast("int").as("date_key"))
      .agg(count(lit(1)).as("orders_total"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("sum_price"))
    val got = AtomicRewrite.read(spark, s"$root/gold/agg_orders_daily")
      .select("date_key", "orders_total", "sum_price")
    val aggDiff = expected.exceptAll(got).count() + got.exceptAll(expected).count()
    val fact = AtomicRewrite.read(spark, s"$root/gold/fact_orders")
    val (factRows, factKeys, keys) = (fact.count(),
      fact.select("o_orderkey").distinct().count(), latest.count())
    latest.unpersist()
    val replays = plan.steps.take(loop.counts("steps").toInt).count(_(0) == "replay")
    val guarded = loop.counts.getOrElse("replay.guarded_versions", -1.0)
    Seq(
      ("agg_orders_daily_equals_rollup", aggDiff == 0,
        s"$aggDiff differing rows against ${expected.count()} expected days"),
      ("fact_orders_rows_equal_keys", factRows == keys && factKeys == keys,
        s"fact rows=$factRows distinct keys=$factKeys expected keys=$keys"),
      ("replay_burns_no_guarded_version", replays >= 1 && guarded == 0,
        s"replays=$replays guarded versions=$guarded (all versions " +
          s"${loop.counts.getOrElse("replay.versions", 0.0)})"))
  }
}

/** Read-only `SparkEntry.queries` in rounds, each round in its own
  * generated order; every result is written the way `graft.Verify`
  * writes it, so the DuckDB oracle check reads round 0. */
class QueryMixWorkload(inputs: String) extends Workload {
  private val plan = new Plan(s"$inputs/query_mix")
  private val tables = s"$inputs/tables"
  private val queries = graft.SparkEntry.queries
  /** query name → span family, from the plan's `family` lines. */
  private val family: Map[String, String] = plan.steps.filter(_(0) == "family")
    .flatMap(s => s(2).split(",").map(_ -> s(1))).toMap
  private val rounds = plan.steps.filter(_(0) == "round").map(_(2).split(",").toSeq)

  /** Rounds every run times: two, so the median sees each query twice. */
  private val MinRounds = 2

  private def runQuery(spark: SparkSession, name: String, out: String): Unit =
    queries(name)(spark, tables).coalesce(1).write.mode("overwrite").parquet(out)

  /** Warm-up: one untimed round, so every plan is compiled once. */
  def setup(spark: SparkSession, root: String, loop: Loop): Unit =
    rounds.head.foreach { q =>
      runQuery(spark, q, s"$root/warm/$q"); spark.catalog.clearCache()
    }

  def run(spark: SparkSession, root: String, loop: Loop, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (loop.more(r, rounds.size, MinRounds, seconds, t0)) {
      rounds(r).foreach { q =>
        loop.timed(q, s"queries.${family(q)}", op = true) {
          runQuery(spark, q, s"$root/r$r/$q")
        }
        spark.catalog.clearCache()
      }
      r += 1
    }
    loop.add("steps", r)
    val r0 = Paths.get(s"$root/r0")
    import graft.core.JsonText.{escape => q}
    Files.writeString(r0.resolve("query_names.json"),
      rounds.head.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(r0.resolve("oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter(kv => family.contains(kv._1))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }

  /** Results are compared by the harness (DuckDB oracle for round 0,
    * round-to-round hashes); here only that every round ran whole. */
  def check(spark: SparkSession, root: String, loop: Loop): Seq[(String, Boolean, String)] = {
    val r = loop.counts("steps").toInt
    val missing = (0 until r).flatMap(k => rounds(k).filterNot(q =>
      Files.exists(Paths.get(s"$root/r$k/$q/_SUCCESS"))).map(q => s"r$k/$q"))
    Seq(("every_round_complete", r >= 1 && missing.isEmpty,
      s"$r rounds; missing ${missing.mkString(" ")}"))
  }
}
