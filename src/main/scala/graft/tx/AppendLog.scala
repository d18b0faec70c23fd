package graft.tx

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append-only parquet log (the bronze append pattern for control-plane
  * tables): each [[append]] adds ONE new file and never touches prior
  * files, so a write is O(this batch) while the log holds O(all time);
  * the read path is a plain scan. Used for the GDPR erasure audit and
  * the per-commit CDF change log — any table whose rows are immutable
  * facts about the past. (A versioned-snapshot table is the wrong tool
  * there: its read-union-rewrite commit restages all-time content per
  * append, through one task when coalesced.)
  *
  * Growth bound: one file per append — erasure runs / fact versions,
  * an operational cadence, not data volume. A `tag`ged append is
  * idempotent (deterministic file name, overwrite-rename), which also
  * gives writers an O(1) "already appended?" probe via [[tagged]]. */
object AppendLog {

  /** Default [[append]] fold threshold: when the log exceeds this many
    * flat files, the append first folds them into one — so the file
    * count (and the per-read listing cost) stays bounded no matter how
    * many years of appends accumulate. */
  val FoldThreshold = 64

  /** Append one batch as ONE new parquet file. With `tag`, the file
    * name is `log_<tag>.parquet` — deterministic, so replaying the same
    * tagged append overwrites rather than duplicates. A fold that
    * absorbs a tagged file first records its tag in the `_TAGS` sidecar,
    * so [[tagged]] stays true across folds and a replayed tagged append
    * can never re-insert rows a compact file already holds. */
  def append(spark: SparkSession, root: String, rows: DataFrame,
             tag: Option[String] = None,
             foldThreshold: Int = FoldThreshold): Unit = {
    tag.foreach(t => require(t.matches("[A-Za-z0-9._-]+"), s"unsafe append tag: $t"))
    completeFold(spark, root)
    if (partFiles(spark, root).length > foldThreshold)
      // a replayed TAGGED append must stay an overwrite: its existing
      // file is excluded from the fold (folding it AND rewriting it
      // below would duplicate the tag's rows)
      fold(spark, root, exclude = tag.map(t => s"log_$t.parquet").toSet)
    tag match {
      case None =>
        // control-plane rows are tiny; one file per append, not one
        // sliver per shuffle partition
        rows.coalesce(1).write.mode("append").parquet(root)
      case Some(t) =>
        // a tag a fold already absorbed must NOT be re-staged: the
        // compact file holds its rows, a fresh log_<tag> would be a
        // second copy
        if (!absorbedTags(fs(spark, new Path(root)), root).contains(t))
          stageAndRename(spark, root, rows, i => s"log_$t${suffix(i)}")
    }
  }

  /** [[append]] for DRIVER-RESIDENT rows (untagged): one parquet file
    * written via [[LocalParquet]] — zero scheduled jobs, the
    * writeLocalRows discipline applied to the append-log shape (an
    * audit batch is a handful of rows whose values were already
    * collected; a coalesce(1) job to persist them is a pure
    * schedule/plan round-trip). Crash-safe like the Spark path: staged
    * to a dot-dir, renamed to its flat name in one FS op — a torn write
    * can never land where [[read]] scans. The name deliberately does
    * NOT carry the `log_` tag prefix, so a fold never records it as an
    * absorbed tag. */
  def appendLocal(spark: SparkSession, root: String,
                  rows: Seq[org.apache.spark.sql.Row],
                  schema: org.apache.spark.sql.types.StructType,
                  foldThreshold: Int = FoldThreshold): Unit = {
    completeFold(spark, root)
    if (partFiles(spark, root).length > foldThreshold)
      fold(spark, root)
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    if (!f.exists(rootPath)) f.mkdirs(rootPath)
    val id = java.util.UUID.randomUUID()
    val staged = new Path(root, s".stage-local-$id")
    LocalParquet.write(spark, new Path(staged, "part.parquet"), rows, schema)
    val target = new Path(root, s"loc_$id.parquet")
    if (!f.rename(new Path(staged, "part.parquet"), target))
      throw new IllegalStateException(
        s"append-log local rename failed: $staged -> $target")
    f.delete(staged, true)
  }

  /** Whether a `tag`ged append has already happened — a file-exists
    * probe plus the `_TAGS` sidecar (tags whose files a fold absorbed);
    * no log scan either way. */
  def tagged(spark: SparkSession, root: String, tag: String): Boolean = {
    val p = new Path(root, s"log_$tag.parquet")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p) || absorbedTags(f, root).contains(tag)
  }

  private val TagsSidecar = "_TAGS"

  private def absorbedTags(f: org.apache.hadoop.fs.FileSystem,
                           root: String): Set[String] = {
    val p = new Path(root, TagsSidecar)
    if (!f.exists(p)) Set.empty
    else readText(f, p).split("\n").filter(_.nonEmpty).toSet
  }

  /** Record the tags of to-be-deleted fold sources in the `_TAGS`
    * sidecar BEFORE the sources are deleted: whichever side of a crash
    * a tag's evidence lands on (its file or the sidecar), [[tagged]]
    * sees it. Rewrites the full set (old union new) with overwrite
    * semantics, so a retry is idempotent. */
  private def recordAbsorbedTags(f: org.apache.hadoop.fs.FileSystem,
                                 root: String, sources: Seq[String]): Unit = {
    val absorbed = sources.flatMap { n =>
      "log_(.+)\\.parquet".r.findFirstMatchIn(n).map(_.group(1))
    }
    if (absorbed.nonEmpty)
      writeText(f, new Path(root, TagsSidecar),
        (absorbedTags(f, root) ++ absorbed).toSeq.sorted.mkString("\n"))
  }

  private def suffix(i: Int) = if (i == 0) ".parquet" else s"_$i.parquet"

  private val FoldMarker = "_COMPACTING"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partFiles(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val f = fs(spark, p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
  }

  /** Fold every current flat file into one `compact_<n>.parquet`.
    * Crash-safe via the `_COMPACTING` marker (first line = target name,
    * rest = source files whose rows the target duplicates):
    *
    *  1. stage the union of the sources to a dot-dir
    *  2. write the marker
    *  3. rename the staged file to the target
    *  4. delete the sources, then the marker
    *
    * [[read]] honors the marker: sources are excluded ONLY once the
    * target exists (before that, they are still the only copy). A crash
    * at any step leaves a state [[completeFold]] finishes or rolls back
    * on the next append. */
  private def fold(spark: SparkSession, root: String,
                   exclude: Set[String] = Set.empty): Unit = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val sources = partFiles(spark, root).filterNot(exclude)
    if (sources.length < 2) return
    val gen = 1 + sources.flatMap { n =>
      "compact_(\\d+)\\.parquet".r.findFirstMatchIn(n).map(_.group(1).toInt)
    }.foldLeft(0)(math.max)
    val target = s"compact_$gen.parquet"
    val staged = new Path(root, ".stage")
    // mergeSchema: appended files may carry evolved schemas; folding
    // through one file's footer would silently drop the other files'
    // columns — irreversibly, since the sources are deleted
    spark.read.option("mergeSchema", "true")
      .parquet(sources.map(n => s"$root/$n"): _*).coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val stagedParts = f.listStatus(staged)
      .filter(_.getPath.getName.endsWith(".parquet"))
    require(stagedParts.length == 1, s"fold staged ${stagedParts.length} files")
    writeText(f, new Path(root, FoldMarker),
      (target +: sources).mkString("\n"))
    if (!f.rename(stagedParts.head.getPath, new Path(root, target)))
      throw new IllegalStateException(s"fold rename failed for $root/$target")
    recordAbsorbedTags(f, root, sources)
    sources.foreach(n => f.delete(new Path(root, n), false))
    f.delete(new Path(root, FoldMarker), false)
    f.delete(staged, true)
  }

  /** Finish (or roll back) a fold a crash interrupted: target present →
    * delete the remaining duplicated sources and the marker; target
    * absent → the sources are still the only copy, drop the marker and
    * any stale stage so the fold can restart cleanly. */
  private def completeFold(spark: SparkSession, root: String): Unit = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val marker = new Path(root, FoldMarker)
    if (!f.exists(marker)) return
    val lines = readText(f, marker).split("\n").toSeq.filter(_.nonEmpty)
    // an EMPTY/truncated marker (crash inside the marker write itself)
    // is an aborted fold: nothing was renamed, the sources are intact —
    // drop the marker and move on rather than wedging on lines.head
    if (lines.nonEmpty) {
      val (target, sources) = (lines.head, lines.tail)
      if (f.exists(new Path(root, target))) {
        // re-record before deleting: the crash may have hit between the
        // fold's rename and its own tag recording
        recordAbsorbedTags(f, root, sources)
        sources.foreach(n => f.delete(new Path(root, n), false))
      }
    }
    f.delete(marker, false)
    f.delete(new Path(root, ".stage"), true)
  }

  private def writeText(f: org.apache.hadoop.fs.FileSystem, p: Path,
                        s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readText(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val len = f.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Stage `rows` to a dot-dir under the log root, then rename the
    * part files to `name(i)` with overwrite semantics (delete-existing
    * first). Deterministic names make a crashed attempt's retry
    * idempotent. */
  private def stageAndRename(spark: SparkSession, root: String,
                             rows: DataFrame, name: Int => String): Unit = {
    val rootPath = new Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(root, ".stage")
    rows.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    f.listStatus(staged).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).zipWithIndex.foreach { case (s, i) =>
        val target = new Path(root, name(i))
        if (f.exists(target)) f.delete(target, false)
        if (!f.rename(s.getPath, target))
          throw new IllegalStateException(
            s"append-log rename failed: ${s.getPath} -> $target")
      }
    f.delete(staged, true)
  }

  /** Whether any rows have ever been appended. */
  def exists(spark: SparkSession, root: String): Boolean =
    partFiles(spark, root).nonEmpty

  /** Read the full log (a mid-fold state never double-counts: sources
    * listed in the fold marker are excluded only once their folded
    * target exists).
    *
    * The file set is resolved CONSISTENTLY against a concurrent fold:
    * the (marker bytes, directory listing) pair is snapshotted twice and
    * accepted only when both snapshots agree — a fold mutating the log
    * between the probes changes one of them and forces a retry — and the
    * resulting explicit file list is what Spark plans over, so the scan
    * never re-lists the directory at execution-planning time. Residual
    * (documented) assumption: a reader that resolved its file set and
    * then idles while a LATER append's fold deletes those sources can
    * still hit missing files at task time; the engine runs reads and
    * appends of one log from a single process, where [[append]] and
    * [[read]] never interleave mid-job. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val p = new Path(root)
    val f = fs(spark, p)
    val marker = new Path(root, FoldMarker)
    def snapshot(): (Option[String], Seq[String]) = {
      val m = if (f.exists(marker)) Some(readText(f, marker)) else None
      (m, partFiles(spark, root))
    }
    var state = snapshot()
    var settled = false
    var attempts = 0
    while (!settled) {
      val again = snapshot()
      if (again == state) settled = true
      else {
        state = again
        attempts += 1
        if (attempts > 50) throw new IllegalStateException(
          s"append-log $root kept changing across 50 listing attempts")
      }
    }
    val (markerBytes, files) = state
    val lines = markerBytes.toSeq
      .flatMap(_.split("\n").toSeq).filter(_.nonEmpty)
    // an empty/absent marker means no fold is mid-flight: every
    // listed file is live
    val selected =
      if (lines.isEmpty) files
      else {
        val (target, sources) = (lines.head, lines.tail.toSet)
        if (files.contains(target)) files.filterNot(sources) else files
      }
    // mergeSchema: the log's files may carry evolved schemas
    val reader = spark.read.option("mergeSchema", "true")
    if (selected.isEmpty) reader.parquet(root) // surface the usual empty-dir error
    else reader.parquet(selected.map(n => s"$root/$n"): _*)
  }
}
