package graft.pipeline

import graft.SparkSpec
import graft.tx.AtomicRewrite
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** The GDPR audit log must be APPEND-ONLY: each propagate run adds exactly
  * one parquet file and never rewrites a prior run's rows — O(run), not
  * O(all-time-audit), per erasure (reference appends its audit rows too,
  * gdpr/gdpr_propagate_erasure.py). */
class GdprAuditSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def parquetFiles(dir: String): Set[(String, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
  }

  private def policy(name: String) =
    Gdpr.Policy(name, "id", Map("name" -> (_ => lit("REDACTED"))))

  test("two propagate runs append two files; prior rows never rewritten") {
    val root = Files.createTempDirectory("graft-audit-append").toString
    val audit = s"$root/audit"
    AtomicRewrite.write(spark, s"$root/t",
      Seq((1L, "alice"), (2L, "bob")).toDF("id", "name"))

    Gdpr.propagate(spark, Seq(1L).toDF("id"), "e", Seq(policy("t")),
      tb => s"$root/$tb", audit, "s", ts("2024-01-01 00:00:00"))
    val after1 = parquetFiles(audit)
    assert(after1.size == 1, s"one file per run, got $after1")

    Gdpr.propagate(spark, Seq(2L).toDF("id"), "e", Seq(policy("t")),
      tb => s"$root/$tb", audit, "s", ts("2024-02-01 00:00:00"))
    val after2 = parquetFiles(audit)
    assert(after2.size == 2, s"second run must add exactly one file: $after2")
    assert(after1.subsetOf(after2),
      "a prior run's audit file was rewritten (name or mtime changed)")
    assert(!AtomicRewrite.exists(spark, audit),
      "append log must not grow version machinery")

    val read = Gdpr.readAudit(spark, audit)
    assert(read.count() == 2)
    assert(read.select("erased_at").as[Timestamp].collect().toSet ==
      Set(ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00")))
    assert(read.columns.toSeq.sorted == Gdpr.AuditCols.sorted)
  }

  test("unpartitioned table with no subject rows burns no version, claims no audit") {
    val root = Files.createTempDirectory("graft-audit-miss").toString
    val t = s"$root/t"
    AtomicRewrite.write(spark, t, Seq((1L, "alice")).toDF("id", "name"))
    val v0 = AtomicRewrite.currentVersion(spark, t)
    val audit = Gdpr.propagate(spark, Seq(99L).toDF("id"), "e",
      Seq(policy("t")), tb => s"$root/$tb", s"$root/audit", "s",
      ts("2024-01-01 00:00:00"))
    assert(audit.isEmpty, "no-op scrub must not claim an audit row")
    assert(AtomicRewrite.currentVersion(spark, t) == v0,
      "no-op scrub must not burn a table version")
    assert(!Gdpr.auditExists(spark, s"$root/audit"))
  }

  test("extraCond-excluded rows count as no match on unpartitioned tables") {
    val root = Files.createTempDirectory("graft-audit-cond").toString
    val t = s"$root/t"
    AtomicRewrite.write(spark, t,
      Seq((1L, "alice", false)).toDF("id", "name", "eligible"))
    val v0 = AtomicRewrite.currentVersion(spark, t)
    val audit = Gdpr.propagate(spark, Seq(1L).toDF("id"), "e",
      Seq(Gdpr.Policy("t", "id", Map("name" -> (_ => lit("REDACTED"))),
        extraCond = col("eligible"))),
      tb => s"$root/$tb", s"$root/audit", "s", ts("2024-01-01 00:00:00"))
    assert(audit.isEmpty && AtomicRewrite.currentVersion(spark, t) == v0)
  }
}
