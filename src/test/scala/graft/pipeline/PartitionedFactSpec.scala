package graft.pipeline

import graft.SparkSpec
import graft.tx.{AtomicRewrite, Watermarks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** The 100×-scale contract of the partition-committed fact path: an
  * incremental batch rewrites ONLY the date partitions it touches (plus
  * any partition a matched key vacates), all-time history rides the
  * manifest, and the CDF audit sees exactly the commit's row deltas.
  * Also the reference's job-failure contract: a mid-silver exception
  * records FAIL:<ExcType> with the watermark unregressed, and a replay
  * heals. */
class PartitionedFactSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def orders(rows: (Long, Double, String, String)*): DataFrame =
    rows.toSeq.toDF("oid", "price", "odate", "updated_at")
      .withColumn("odate", to_timestamp(col("odate")))
      .withColumn("updated_at", to_timestamp(col("updated_at")))

  private val conf = Medallion.SilverConf(
    entity = "orders", keys = Seq("oid"), businessCols = Seq("price", "odate"))

  test("incremental fact batches rewrite only touched date partitions; moves vacate") {
    val root = Files.createTempDirectory("graft-pfact").toString
    val paths = Medallion.Paths(root)
    def runBatch(now: Timestamp, rows: (Long, Double, String, String)*): Unit = {
      Medallion.bronzeLoad(spark, paths, "orders", orders(rows: _*), "updated_at",
        s"b$now", now)
      Medallion.silverScd2(spark, paths, conf, now)
      Medallion.goldFact(spark, paths, "fact_orders", "orders",
        keys = Seq("oid"), dateKeyFrom = Seq("odate"), dimKeys = Map.empty,
        now = now, partitionBy = Seq("date_key"))
    }
    val factRoot = paths.gold("fact_orders")

    runBatch(ts("2024-01-03 10:00:00"),
      (1L, 10.0, "2024-01-01 05:00:00", "2024-01-01 05:00:00"),
      (2L, 20.0, "2024-01-01 06:00:00", "2024-01-01 06:00:00"),
      (3L, 30.0, "2024-01-02 05:00:00", "2024-01-02 05:00:00"))
    val day1 = new java.io.File(s"$factRoot/v=0/date_key=20240101")
    assert(day1.exists())
    val day1Files = day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // batch 2: a new order on day 2 — day 1's partition must NOT be staged
    // again; its files stay byte-untouched in v=0
    runBatch(ts("2024-01-03 11:00:00"),
      (4L, 40.0, "2024-01-02 07:00:00", "2024-01-02 07:00:00"))
    assert(AtomicRewrite.currentVersion(spark, factRoot).contains(1L))
    assert(!new java.io.File(s"$factRoot/v=1/date_key=20240101").exists())
    assert(day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet == day1Files,
      "untouched day-1 partition was rewritten")
    val fact1 = AtomicRewrite.read(spark, factRoot)
    assert(fact1.count() == 4)

    // CDF audit for the batch-2 commit: exactly the day-2 merge's deltas
    Runner.recordFactChanges(spark, paths, "fact_orders")
    val audit = graft.tx.AppendLog.read(spark, paths.gold("fact_orders_changes"))
      .filter(col("fact_version") === 1)
      .select("_change_type", "n").as[(String, Long)].collect().toMap
    assert(audit == Map("insert" -> 1L)) // order 4 inserted, nothing deleted

    // batch 3: order 3's date is corrected to day 1 — the vacated day-2
    // partition is rewritten without it, day 1 gains it
    runBatch(ts("2024-01-03 12:00:00"),
      (3L, 30.0, "2024-01-01 07:00:00", "2024-01-03 00:00:00"))
    val fact2 = AtomicRewrite.read(spark, factRoot)
    val byDay = fact2.groupBy("date_key").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(byDay == Map(20240101 -> 3L, 20240102 -> 1L))
    assert(fact2.filter(col("oid") === 3L).select("date_key")
      .as[Int].head() == 20240101)
    assert(fact2.count() == 4, "moved row must not survive in its old partition")
  }

  test("silver SCD2 archives closed months by reference; old months never restaged") {
    val root = Files.createTempDirectory("graft-psilver").toString
    val paths = Medallion.Paths(root)
    val silverRoot = paths.silver("orders")
    def runSilver(now: Timestamp, rows: (Long, Double, String, String)*): Unit = {
      Medallion.bronzeLoad(spark, paths, "orders", orders(rows: _*), "updated_at",
        s"b$now", now)
      Medallion.silverScd2(spark, paths, conf, now)
    }
    def pq(dir: java.io.File): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      if (!dir.exists()) Set.empty
      else walk(dir).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath.stripPrefix(dir.getAbsolutePath),
          f.lastModified())).toSet
    }
    // Jan: both keys current
    runSilver(ts("2024-01-10 10:00:00"),
      (1L, 10.0, "2024-01-01 05:00:00", "2024-01-01 05:00:00"),
      (2L, 20.0, "2024-01-01 06:00:00", "2024-01-01 06:00:00"))
    // Feb: key 1 changes → its Jan version closes into archive_month=202402
    runSilver(ts("2024-02-15 10:00:00"),
      (1L, 11.0, "2024-01-01 05:00:00", "2024-02-15 05:00:00"))
    val feb = new java.io.File(s"$silverRoot/v=1/archive_month=202402")
    assert(feb.exists(), "newly closed rows must land in their archive month")
    val febFiles = pq(feb)
    assert(febFiles.nonEmpty)
    // Mar: key 2 changes → closes into 202403; February's partition must
    // ride the manifest, not be restaged — and with the two-level layout
    // key 1's HOT BUCKET must ride too (key 2's batch touches only its
    // own bucket)
    runSilver(ts("2024-03-20 10:00:00"),
      (2L, 21.0, "2024-01-01 06:00:00", "2024-03-20 05:00:00"))
    assert(!new java.io.File(s"$silverRoot/v=2/archive_month=202402").exists(),
      "untouched archive month was restaged")
    assert(pq(feb) == febFiles,
      "untouched archive month files were rewritten")
    val buckets = Seq(1L, 2L).toDF("oid")
      .select(col("oid"), pmod(xxhash64(col("oid")), lit(Medallion.DimBuckets))
        .cast("int").as("b")).as[(Long, Int)].collect().toMap
    if (buckets(1L) != buckets(2L))
      assert(!new java.io.File(
          s"$silverRoot/v=2/archive_month=0/key_bucket=${buckets(1L)}").exists(),
        "untouched hot bucket was restaged by another key's batch")
    val silver = AtomicRewrite.read(spark, silverRoot)
    assert(silver.count() == 4)
    assert(silver.filter(col("is_current")).count() == 2)
    val am = silver.filter(!col("is_current"))
      .select("oid", "archive_month").as[(Long, Int)].collect().toMap
    assert(am == Map(1L -> 202402, 2L -> 202403))
    // current rows live in (and only in) the hot partition
    assert(silver.filter(col("archive_month") === 0)
      .select("oid", "price").as[(Long, Double)].collect().toSet ==
      Set(1L -> 11.0, 2L -> 21.0))
  }

  test("hist dim archives closed months by reference; old months never restaged") {
    val root = Files.createTempDirectory("graft-phist").toString
    val paths = Medallion.Paths(root)
    val histRoot = paths.gold("dim_e_hist")
    def silverRows(rows: (Long, String, String, Option[String], Boolean)*) =
      rows.toSeq.toDF("id", "v", "valid_from", "valid_to", "is_current")
        .withColumn("raw_loaded_at", to_timestamp(col("valid_from")))
        .withColumn("valid_from", to_timestamp(col("valid_from")))
        .withColumn("valid_to", to_timestamp(col("valid_to")))
        .withColumn("scd_hash", sha2(col("v"), 256))

    // batch 1: key 1 closed a version in Feb, key 2 in Mar
    AtomicRewrite.write(spark, paths.silver("e"), silverRows(
      (1L, "a1", "2024-01-01 00:00:00", Some("2024-02-10 00:00:00"), false),
      (1L, "a2", "2024-02-10 00:00:00", None, true),
      (2L, "b1", "2024-01-01 00:00:00", Some("2024-03-10 00:00:00"), false),
      (2L, "b2", "2024-03-10 00:00:00", None, true)))
    Medallion.goldScd2Hist(spark, paths, "e", Seq("id"), ts("2024-03-11 10:00:00"))
    val feb = new java.io.File(s"$histRoot/v=0/archive_month=202402")
    assert(feb.exists(), "closed rows must land in their valid_to month")
    val febFiles = feb.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // batch 2: only key 2 changes (b2 closes into April) — key 1's Feb
    // month must ride the manifest, not be restaged
    AtomicRewrite.write(spark, paths.silver("e"), silverRows(
      (1L, "a1", "2024-01-01 00:00:00", Some("2024-02-10 00:00:00"), false),
      (1L, "a2", "2024-02-10 00:00:00", None, true),
      (2L, "b1", "2024-01-01 00:00:00", Some("2024-03-10 00:00:00"), false),
      (2L, "b2", "2024-03-10 00:00:00", Some("2024-04-05 00:00:00"), false),
      (2L, "b3", "2024-04-05 00:00:00", None, true)))
    Medallion.goldScd2Hist(spark, paths, "e", Seq("id"), ts("2024-04-06 10:00:00"))
    assert(AtomicRewrite.currentVersion(spark, histRoot).contains(1L))
    assert(!new java.io.File(s"$histRoot/v=1/archive_month=202402").exists(),
      "untouched hist month was restaged")
    assert(feb.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet == febFiles,
      "untouched hist month files were rewritten")
    val hist = AtomicRewrite.read(spark, histRoot)
    assert(hist.count() == 5)
    assert(hist.filter(col("id") === 2L).count() == 3)
    // untouched key 1 keeps its batch-1 dwh stamp; key 2 is re-stamped
    val stamps = hist.select("v", "dwh_loaded_at").as[(String, Timestamp)]
      .collect().toMap
    assert(stamps("a1") == ts("2024-03-11 10:00:00"))
    assert(stamps("b3") == ts("2024-04-06 10:00:00"))
    // current rows live in (and only in) the hot partition
    assert(hist.filter(col("archive_month") === 0)
      .select("v").as[String].collect().toSet == Set("a2", "b3"))
  }

  test("GDPR erasure on a partition-committed table rewrites only the subject's partitions") {
    val root = Files.createTempDirectory("graft-pgdpr").toString
    val paths = Medallion.Paths(root)
    val histRoot = paths.gold("dim_e_hist")
    def silverRows(rows: (Long, String, String, Option[String], Boolean)*) =
      rows.toSeq.toDF("id", "v", "valid_from", "valid_to", "is_current")
        .withColumn("raw_loaded_at", to_timestamp(col("valid_from")))
        .withColumn("valid_from", to_timestamp(col("valid_from")))
        .withColumn("valid_to", to_timestamp(col("valid_to")))
        .withColumn("scd_hash", sha2(col("v"), 256))
    AtomicRewrite.write(spark, paths.silver("e"), silverRows(
      (1L, "a1", "2024-01-01 00:00:00", Some("2024-02-10 00:00:00"), false),
      (1L, "a2", "2024-02-10 00:00:00", None, true),
      (2L, "b1", "2024-01-01 00:00:00", Some("2024-03-10 00:00:00"), false),
      (2L, "b2", "2024-03-10 00:00:00", None, true)))
    Medallion.goldScd2Hist(spark, paths, "e", Seq("id"), ts("2024-03-11 10:00:00"))
    val feb = new java.io.File(s"$histRoot/v=0/archive_month=202402")
    val febFiles = feb.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // erase subject 2 (rows in months 0 and 202403): key 1's Feb month
    // must ride the manifest, not be restaged
    Gdpr.propagate(spark, Seq(2L).toDF("id"), "e",
      Seq(Gdpr.Policy("gold/dim_e_hist", "id",
        Map("v" -> (_ => lit("REDACTED"))))),
      tb => s"$root/$tb", s"$root/control/gdpr_audit", "s",
      ts("2024-03-12 10:00:00"))
    assert(AtomicRewrite.currentVersion(spark, histRoot).contains(1L))
    assert(!new java.io.File(s"$histRoot/v=1/archive_month=202402").exists(),
      "month without subject rows was restaged by erasure")
    assert(feb.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet == febFiles)
    val hist = AtomicRewrite.read(spark, histRoot)
    assert(hist.filter(col("id") === 2L).select("v").as[String]
      .collect().forall(_ == "REDACTED"))
    assert(hist.filter(col("id") === 1L).select("v").as[String]
      .collect().toSet == Set("a1", "a2"), "other subjects untouched")
    assert(hist.count() == 4)
  }

  test("GDPR erasure in a NULL-valued partition redacts without deleting bystanders") {
    // a NULL partition value is a legal hive dir (__HIVE_DEFAULT_PARTITION__);
    // a null-unsafe slice join would declare the dir replaced while writing
    // none of its rows back — silently deleting every bystander in it
    val root = Files.createTempDirectory("graft-pgdpr-null").toString
    val t = s"$root/t"
    val df = Seq((1L, "alice", Some(1)), (2L, "bob", None), (3L, "carol", None))
      .toDF("id", "name", "grp")
    AtomicRewrite.write(spark, t, df, partitionBy = Seq("grp"))
    Gdpr.propagate(spark, Seq(2L).toDF("id"), "e",
      Seq(Gdpr.Policy("t", "id", Map("name" -> (_ => lit("REDACTED"))))),
      tb => s"$root/$tb", s"$root/audit", "s", ts("2024-01-01 00:00:00"))
    val out = AtomicRewrite.read(spark, t)
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "alice", 2L -> "REDACTED", 3L -> "carol"),
      s"bystanders in the NULL partition must survive: $out")
  }

  test("GDPR erasure with no subject rows burns no version and writes no audit row") {
    val root = Files.createTempDirectory("graft-pgdpr-miss").toString
    val t = s"$root/t"
    AtomicRewrite.write(spark, t,
      Seq((1L, "alice", 1)).toDF("id", "name", "grp"), partitionBy = Seq("grp"))
    val v0 = AtomicRewrite.currentVersion(spark, t)
    val audit = Gdpr.propagate(spark, Seq(99L).toDF("id"), "e",
      Seq(Gdpr.Policy("t", "id", Map("name" -> (_ => lit("REDACTED"))))),
      tb => s"$root/$tb", s"$root/audit", "s", ts("2024-01-01 00:00:00"))
    assert(AtomicRewrite.currentVersion(spark, t) == v0,
      "absent subject must not burn a table version")
    assert(audit.isEmpty, "audit must not claim a scrub that never committed")
    assert(!Gdpr.auditExists(spark, s"$root/audit"))
  }

  test("snapshot and SCD3 dims rewrite only buckets holding affected keys") {
    val root = Files.createTempDirectory("graft-dimbucket").toString
    val p = Medallion.Paths(root)
    def silverRows(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "v", "valid_from")
        .withColumn("raw_loaded_at", to_timestamp(col("valid_from")))
        .withColumn("valid_from", to_timestamp(col("valid_from")))
        .withColumn("is_current", lit(true))
        .withColumn("scd_hash", sha2(col("v"), 256))
    val t1 = (1L to 8L).map(id => (id, s"a$id", "2024-01-01 00:00:00"))
    AtomicRewrite.write(spark, p.silver("e"), silverRows(t1: _*))
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-01-01 10:00:00"))
    Medallion.goldScd3(spark, p, "e", "id", Seq("v"), ts("2024-01-01 10:00:00"))

    // buckets as the engine computes them (stable key hash)
    val buckets = (1L to 8L).toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(Medallion.DimBuckets))
        .cast("int").as("b"))
      .as[(Long, Int)].collect().toMap
    val b1 = buckets(1L)
    val bystander = buckets.find { case (_, b) => b != b1 }.get
    assert(buckets.values.toSet.size > 1, "need ≥2 distinct buckets")

    for (dim <- Seq("dim_e_snapshot", "dim_e_scd3")) {
      val dir = new java.io.File(s"${p.gold(dim)}/v=0/key_bucket=${bystander._2}")
      assert(dir.exists(), s"$dim bootstrap must be bucket-partitioned")
    }
    def files(dim: String, v: Long, b: Int) = {
      val d = new java.io.File(s"${p.gold(dim)}/v=$v/key_bucket=$b")
      if (!d.exists()) Set.empty[(String, Long)]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = Seq("dim_e_snapshot", "dim_e_scd3")
      .map(d => d -> files(d, 0, bystander._2)).toMap

    // batch 2: only key 1 changes — every other bucket must ride the
    // manifest with its v=0 files byte-untouched
    AtomicRewrite.write(spark, p.silver("e"), silverRows(
      (t1.map(r => if (r._1 == 1L) (1L, "a1x", "2024-02-01 00:00:00") else r)): _*))
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-02-01 10:00:00"))
    Medallion.goldScd3(spark, p, "e", "id", Seq("v"), ts("2024-02-01 10:00:00"))

    for (dim <- Seq("dim_e_snapshot", "dim_e_scd3")) {
      val dimRoot = p.gold(dim)
      assert(AtomicRewrite.currentVersion(spark, dimRoot).contains(1L))
      val v1dirs = new java.io.File(s"$dimRoot/v=1").listFiles()
        .filter(_.getName.startsWith("key_bucket=")).map(_.getName).toSet
      assert(v1dirs == Set(s"key_bucket=$b1"),
        s"$dim batch must stage only the affected bucket, staged $v1dirs")
      assert(files(dim, 0, bystander._2) == before(dim),
        s"$dim bystander bucket was rewritten")
      // contents: key 1 updated, bystander untouched
      val got = AtomicRewrite.read(spark, dimRoot)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(got(1L) == "a1x" && got(bystander._1) == s"a${bystander._1}")
      assert(got.size == 8)
    }
    // SCD3 prev carried through the bucket-sliced merge
    val prev = AtomicRewrite.read(spark, p.gold("dim_e_scd3"))
      .filter(col("id") === 1L).select("prev_v").as[String].head()
    assert(prev == "a1", s"prev_v must be the superseded value, got $prev")

    // replay with nothing newer: no version burned for either dim
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-02-02 10:00:00"))
    Medallion.goldScd3(spark, p, "e", "id", Seq("v"), ts("2024-02-02 10:00:00"))
    for (dim <- Seq("dim_e_snapshot", "dim_e_scd3"))
      assert(AtomicRewrite.currentVersion(spark, p.gold(dim)).contains(1L),
        s"$dim idle replay must not burn a version")
  }

  test("partitioned incremental aggregate rebuilds only touched months") {
    val root = Files.createTempDirectory("graft-pagg").toString
    val paths = Medallion.Paths(root)
    val aggRoot = paths.gold("agg")
    def src(rows: (Int, Int, Double, String)*) =
      rows.toSeq.toDF("date_key", "month_key", "price", "raw_loaded_at")
        .withColumn("raw_loaded_at", to_timestamp(col("raw_loaded_at")))
    def runAgg(source: org.apache.spark.sql.DataFrame): Unit =
      Medallion.goldAggIncremental(spark, paths, "agg", source,
        Seq("date_key", "month_key"),
        Seq(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(38,6)")).cast("double").as("sum_price")),
        partitionBy = Seq("month_key"))

    val b1 = src(
      (20240101, 202401, 10.0, "2024-01-01 10:00:00"),
      (20240102, 202401, 20.0, "2024-01-02 10:00:00"),
      (20240201, 202402, 30.0, "2024-02-01 10:00:00"))
    runAgg(b1)
    val jan = new java.io.File(s"$aggRoot/v=0/month_key=202401")
    val janFiles = jan.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // a later fact row lands in February only — January's aggregate
    // partition must ride the manifest untouched
    runAgg(b1.unionByName(src(
      (20240201, 202402, 5.0, "2024-02-02 10:00:00"))))
    assert(AtomicRewrite.currentVersion(spark, aggRoot).contains(1L))
    assert(!new java.io.File(s"$aggRoot/v=1/month_key=202401").exists())
    assert(jan.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet == janFiles)
    val out = AtomicRewrite.read(spark, aggRoot)
      .select("date_key", "n", "sum_price").as[(Int, Long, Double)]
      .collect().toSet
    assert(out == Set((20240101, 1L, 10.0), (20240102, 1L, 20.0),
      (20240201, 2L, 35.0)))
  }

  test("snapshot dim: same-hash newer version advances the watermark, then goes idle") {
    // A→B→A oscillation seen late: the dim's current row and the newest
    // silver version have EQUAL hashes but the silver one is newer. A
    // newer-AND-changed guard would never advance raw_loaded_at, so
    // every later run would re-select the row and burn a version with
    // identical content, forever. The any-newer guard updates once
    // (advancing the control watermark) and the next run is a true no-op.
    val root = Files.createTempDirectory("graft-dimosc").toString
    val p = Medallion.Paths(root)
    def silverRows(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "v", "valid_from")
        .withColumn("raw_loaded_at", to_timestamp(col("valid_from")))
        .withColumn("valid_from", to_timestamp(col("valid_from")))
        .withColumn("is_current", lit(true))
        .withColumn("scd_hash", sha2(col("v"), 256))
    AtomicRewrite.write(spark, p.silver("e"),
      silverRows((1L, "a", "2024-01-01 00:00:00")))
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-01-01 10:00:00"))
    val dimRoot = p.gold("dim_e_snapshot")
    // the same content resurfaces as a NEWER version (A→B→A, B unseen)
    AtomicRewrite.write(spark, p.silver("e"),
      silverRows((1L, "a", "2024-03-01 00:00:00")))
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-03-01 10:00:00"))
    assert(AtomicRewrite.currentVersion(spark, dimRoot).contains(1L))
    assert(AtomicRewrite.read(spark, dimRoot).select("raw_loaded_at")
      .as[Timestamp].head() == ts("2024-03-01 00:00:00"),
      "same-hash newer version must still advance raw_loaded_at")
    // replay: watermark has advanced → zero work, no version burned
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-03-02 10:00:00"))
    Medallion.goldScd1Snapshot(spark, p, "e", Seq("id"), ts("2024-03-03 10:00:00"))
    assert(AtomicRewrite.currentVersion(spark, dimRoot).contains(1L),
      "idle replays after a same-hash catch-up must not burn versions")
  }

  test("rebuildGrains repairs grains stranded by a grain-moving correction") {
    val root = Files.createTempDirectory("graft-regrain").toString
    val paths = Medallion.Paths(root)
    val aggRoot = paths.gold("agg")
    def src(rows: (Long, Int, Int, Double, String)*) =
      rows.toSeq.toDF("oid", "date_key", "month_key", "price", "raw_loaded_at")
        .withColumn("raw_loaded_at", to_timestamp(col("raw_loaded_at")))
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(col("price").cast("decimal(38,6)")).cast("double").as("sum_price"))
    val grain = Seq("date_key", "month_key")
    def runAgg(source: org.apache.spark.sql.DataFrame): Unit =
      Medallion.goldAggIncremental(spark, paths, "agg", source, grain, aggCols,
        partitionBy = Seq("month_key"))

    val b1 = src(
      (1L, 20240101, 202401, 10.0, "2024-01-01 10:00:00"),
      (2L, 20240201, 202402, 20.0, "2024-02-01 10:00:00"))
    runAgg(b1)
    // SCD1 correction MOVES oid=1 to February (newer version, new grain)
    val corrected = src(
      (1L, 20240201, 202402, 10.0, "2024-03-01 10:00:00"),
      (2L, 20240201, 202402, 20.0, "2024-02-01 10:00:00"))
    runAgg(corrected)
    // the documented constraint: the incremental merge rebuilt February
    // (where the newer row now lives) but January kept the departed
    // row's contribution — stranded
    val stranded = AtomicRewrite.read(spark, aggRoot)
      .select("date_key", "sum_price").as[(Int, Double)].collect().toMap
    assert(stranded == Map(20240101 -> 10.0, 20240201 -> 30.0))

    // the repair: rebuild the departed grain from the corrected source —
    // zero remaining rows, so the stranded row must be DELETED (and its
    // now-empty month partition dropped from the manifest)
    Medallion.rebuildGrains(spark, paths, "agg", corrected, grain, aggCols,
      grains = Seq((20240101, 202401)).toDF("date_key", "month_key"),
      partitionBy = Seq("month_key"))
    val repaired = AtomicRewrite.read(spark, aggRoot)
      .select("date_key", "n", "sum_price").as[(Int, Long, Double)]
      .collect().toSet
    assert(repaired == Set((20240201, 2L, 30.0)),
      s"stranded grain must vanish after the repair: $repaired")

    // replaying the same repair is a no-op on contents
    Medallion.rebuildGrains(spark, paths, "agg", corrected, grain, aggCols,
      grains = Seq((20240101, 202401)).toDF("date_key", "month_key"),
      partitionBy = Seq("month_key"))
    assert(AtomicRewrite.read(spark, aggRoot)
      .select("date_key", "n", "sum_price").as[(Int, Long, Double)]
      .collect().toSet == repaired)

    // a repair that rebuilds a grain which still HAS rows replaces, not
    // deletes: move oid=1 back to January and repair both grains
    val movedBack = src(
      (1L, 20240101, 202401, 15.0, "2024-04-01 10:00:00"),
      (2L, 20240201, 202402, 20.0, "2024-02-01 10:00:00"))
    Medallion.rebuildGrains(spark, paths, "agg", movedBack, grain, aggCols,
      grains = Seq((20240101, 202401), (20240201, 202402))
        .toDF("date_key", "month_key"),
      partitionBy = Seq("month_key"))
    assert(AtomicRewrite.read(spark, aggRoot)
      .select("date_key", "n", "sum_price").as[(Int, Long, Double)]
      .collect().toSet == Set((20240101, 1L, 15.0), (20240201, 1L, 20.0)))
  }

  /** A pipeline root driven through five `Runner.runBatch` calls: the
    * fifth batch crosses the compaction cadence. Built once, shared by
    * the cadence and the fact-pruning cases. */
  private lazy val cadenceRoot: String = {
    val root = Files.createTempDirectory("graft-cadence").toString
    def batch(day: Int, oid: Long) = {
      val d = f"2024-01-$day%02d"
      Seq((oid, 1L, "O", 10.0 * day, "3-medium", s"$d 08:00:00"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority", "o_orderdate")
        .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
    }
    val customer = Seq((1L, "alice", 1L, "A", 10.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("updated_at", to_timestamp(lit("2020-01-01 00:00:00")))
    for (day <- 1 to 5)
      Runner.runBatch(spark, root, customer, batch(day, 100L + day),
        ts(f"2024-01-$day%02d 10:00:00"), s"b$day")
    root
  }

  test("runner cadence: fact compacts every 4 versions and re-buckets") {
    val root = cadenceRoot
    val factRoot = Medallion.Paths(root).gold("fact_orders")
    // 5 batches -> v0..v4; the 5th hit factV=4 and compacted into v5
    assert(AtomicRewrite.currentVersion(spark, factRoot).contains(5L))
    val fact = AtomicRewrite.read(spark, factRoot)
    assert(fact.count() == 5)
    // compaction collapsed all manifest references into the new version
    assert(new java.io.File(s"$factRoot/v=5/month_key=202401").exists())
    // the bucketed copy was refreshed post-compaction and agrees
    val bucketed = graft.sources.Bucketed.read(spark, Runner.bucketedFactTable(root))
    assert(bucketed.count() == 5)
    assert(AtomicRewrite.read(spark, Medallion.Paths(root).gold("agg_orders_daily"))
      .agg(sum(col("orders_total"))).head().getLong(0) == 5L)
  }

  test("a month_key filter on the gold fact prunes its scan by partition") {
    val fact = AtomicRewrite.read(spark, Medallion.Paths(cadenceRoot).gold("fact_orders"))
    val q = fact.filter(col("month_key") === 202401).select("o_orderkey", "o_totalprice")
    assert(q.count() == 5)
    val plan = q.queryExecution.executedPlan.toString
    val factScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/fact_orders/")).toSeq
    assert(factScans.nonEmpty, s"no fact scan in:\n$plan")
    assert(factScans.forall(l => l.contains("PartitionFilters: [") &&
      !l.replaceAll("\\s", "").contains("PartitionFilters:[]")),
      s"a fact scan reads every month:\n${factScans.mkString("\n")}")
    assert(factScans.forall(_.contains("month_key#")),
      s"fact scans must prune on month_key:\n${factScans.mkString("\n")}")
  }

  test("mid-silver failure records FAIL:<ExcType>, keeps watermark; replay heals") {
    val root = Files.createTempDirectory("graft-fail").toString
    val paths = Medallion.Paths(root)
    val t1 = ts("2024-01-01 10:00:00")
    Medallion.bronzeLoad(spark, paths, "orders",
      orders((1L, 10.0, "2024-01-01 05:00:00", "2024-01-01 05:00:00")),
      "updated_at", "b1", t1)
    Medallion.silverScd2(spark, paths, conf, t1)
    val wm1 = Watermarks.read(spark, paths.control, "silver_orders")
    assert(wm1.contains(t1))

    // batch 2 lands in bronze, then the silver job blows up mid-transform
    val t2 = ts("2024-01-02 10:00:00")
    Medallion.bronzeLoad(spark, paths, "orders",
      orders((2L, 20.0, "2024-01-02 05:00:00", "2024-01-02 05:00:00")),
      "updated_at", "b2", t2)
    val boom = conf.copy(clean = _ => throw new IllegalStateException("boom"))
    intercept[IllegalStateException] {
      Medallion.silverScd2(spark, paths, boom, t2)
    }
    val ctl = AtomicRewrite.read(spark, paths.control)
      .filter(col("job_name") === "silver_orders").head()
    assert(ctl.getAs[String]("last_status") == "FAIL:IllegalStateException")
    assert(Watermarks.read(spark, paths.control, "silver_orders").contains(t1),
      "FAIL run must not regress the watermark")

    // replay with the fixed job: resumes from the kept watermark, lands
    // batch 2, and overwrites the FAIL status
    Medallion.silverScd2(spark, paths, conf, t2)
    val silver = AtomicRewrite.read(spark, paths.silver("orders"))
    assert(silver.count() == 2)
    val ctl2 = AtomicRewrite.read(spark, paths.control)
      .filter(col("job_name") === "silver_orders").head()
    assert(ctl2.getAs[String]("last_status") == "OK")
    assert(Watermarks.read(spark, paths.control, "silver_orders").contains(t2))
  }
}
