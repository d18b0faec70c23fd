package graft.tx

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Append-only log: tagged idempotent appends, O(1) recorded probe, and
  * crash-safe folds (every intermediate state of a fold must read
  * correctly and retry safely). */
class AppendLogSpec extends SparkSpec {
  import spark.implicits._

  test("tagged append is idempotent and probe-able without a scan") {
    val root = Files.createTempDirectory("graft-alog").toString + "/log"
    val rows = Seq((1L, "a")).toDF("v", "x")
    assert(!AppendLog.tagged(spark, root, "v1"))
    AppendLog.append(spark, root, rows, tag = Some("v1"))
    assert(AppendLog.tagged(spark, root, "v1"))
    // replaying the same tagged append overwrites, never duplicates
    AppendLog.append(spark, root, rows, tag = Some("v1"))
    assert(AppendLog.read(spark, root).count() == 1)
    AppendLog.append(spark, root, Seq((2L, "b")).toDF("v", "x"), tag = Some("v2"))
    assert(AppendLog.read(spark, root).count() == 2)
    assert(!AppendLog.tagged(spark, root, "v3"))
  }

  test("over-threshold appends fold the log to a bounded file count") {
    val root = Files.createTempDirectory("graft-alog-fold").toString + "/log"
    for (i <- 1 to 6)
      AppendLog.append(spark, root, Seq((i.toLong, s"r$i")).toDF("v", "x"),
        foldThreshold = 4)
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(files.length <= 5, s"fold must bound the file count: ${files.toSeq}")
    assert(files.exists(_.startsWith("compact_")), s"expected a folded file: ${files.toSeq}")
    assert(AppendLog.read(spark, root).count() == 6, "folding must not lose rows")
    // keep appending past another threshold crossing: still bounded, still complete
    for (i <- 7 to 12)
      AppendLog.append(spark, root, Seq((i.toLong, s"r$i")).toDF("v", "x"),
        foldThreshold = 4)
    assert(AppendLog.read(spark, root).count() == 12)
    assert(new java.io.File(root).listFiles()
      .count(_.getName.endsWith(".parquet")) <= 5)
  }

  test("fold crash states: marker without target keeps sources; with target dedups") {
    val root = Files.createTempDirectory("graft-alog-crash").toString + "/log"
    AppendLog.append(spark, root, Seq((1L, "a")).toDF("v", "x"))
    AppendLog.append(spark, root, Seq((2L, "b")).toDF("v", "x"))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted

    // crash AFTER the marker write, BEFORE the target rename: the
    // sources are still the only copy and must all be readable
    val marker = new org.apache.hadoop.fs.Path(root, "_COMPACTING")
    val out = f.create(marker, true)
    out.write(("compact_1.parquet" +: parts.toSeq).mkString("\n").getBytes("UTF-8"))
    out.close()
    assert(AppendLog.read(spark, root).count() == 2,
      "target absent -> sources must not be excluded")
    // the next append rolls the aborted fold back and proceeds
    AppendLog.append(spark, root, Seq((3L, "c")).toDF("v", "x"))
    assert(!f.exists(marker))
    assert(AppendLog.read(spark, root).count() == 3)

    // crash AFTER the target rename, BEFORE source deletion: target
    // duplicates the sources; reads must exclude them, and the next
    // append must finish the deletes
    val parts2 = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    AppendLog.read(spark, root).coalesce(1).write.mode("overwrite")
      .parquet(s"$root/.stage")
    val staged = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/.stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val out2 = f.create(marker, true)
    out2.write(("compact_9.parquet" +: parts2.toSeq).mkString("\n").getBytes("UTF-8"))
    out2.close()
    f.rename(staged, new org.apache.hadoop.fs.Path(root, "compact_9.parquet"))
    assert(AppendLog.read(spark, root).count() == 3,
      "target present -> duplicated sources must be excluded")
    AppendLog.append(spark, root, Seq((4L, "d")).toDF("v", "x"))
    assert(!f.exists(marker))
    assert(AppendLog.read(spark, root).count() == 4)
    assert(parts2.forall(n => !new java.io.File(s"$root/$n").exists()),
      "finished fold must have deleted the duplicated sources")
  }

  test("empty fold marker (crash during the marker write) never wedges the log") {
    val root = Files.createTempDirectory("graft-alog-empty").toString + "/log"
    AppendLog.append(spark, root, Seq((1L, "a")).toDF("v", "x"))
    AppendLog.append(spark, root, Seq((2L, "b")).toDF("v", "x"))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_COMPACTING")
    f.create(marker, true).close() // 0-byte marker: crash mid-write
    assert(AppendLog.read(spark, root).count() == 2,
      "an aborted marker must not hide any file")
    AppendLog.append(spark, root, Seq((3L, "c")).toDF("v", "x"))
    assert(!f.exists(marker), "aborted marker must be cleaned up")
    assert(AppendLog.read(spark, root).count() == 3)
  }

  test("tagged replay that triggers a fold still overwrites, never duplicates") {
    val root = Files.createTempDirectory("graft-alog-tagfold").toString + "/log"
    for (i <- 1 to 4)
      AppendLog.append(spark, root, Seq((i.toLong, s"r$i")).toDF("v", "x"),
        tag = Some(s"v$i"), foldThreshold = 99)
    // replaying v1 with a low threshold folds the OTHER files and
    // re-writes v1's — its rows must appear exactly once
    AppendLog.append(spark, root, Seq((1L, "r1")).toDF("v", "x"),
      tag = Some("v1"), foldThreshold = 2)
    val rows = AppendLog.read(spark, root).select("v").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L), s"got ${rows.toSeq}")
    assert(AppendLog.tagged(spark, root, "v1"))
  }

  test("tagged() stays true after a fold absorbs the tag; replay never re-inserts") {
    val root = Files.createTempDirectory("graft-alog-tags").toString + "/log"
    for (i <- 1 to 4)
      AppendLog.append(spark, root, Seq((i.toLong, s"r$i")).toDF("v", "x"),
        tag = Some(s"v$i"), foldThreshold = 99)
    // an UNTAGGED append over threshold folds every tagged file away
    AppendLog.append(spark, root, Seq((5L, "r5")).toDF("v", "x"),
      foldThreshold = 2)
    val files = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(!files.exists(_.startsWith("log_v1")),
      s"fold should have absorbed the tagged files: ${files.toSeq}")
    // the absorbed tags are still recorded...
    for (i <- 1 to 4)
      assert(AppendLog.tagged(spark, root, s"v$i"), s"v$i lost across fold")
    assert(!AppendLog.tagged(spark, root, "v9"))
    // ...and a replayed tagged append is a no-op, not a second copy
    AppendLog.append(spark, root, Seq((2L, "r2")).toDF("v", "x"),
      tag = Some("v2"))
    val rows = AppendLog.read(spark, root).select("v").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"got ${rows.toSeq}")
  }
}
