package graft.tx

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Versioned-snapshot table layout replacing Delta's transaction log.
  *
  * The reference leans on Delta for MERGE/DELETE/VACUUM atomicity; our
  * environment has no Delta jars (SURVEY.md §4), so managed tables live as
  *
  * {{{
  *   <root>/v=<N>/ ...parquet files (hive partition dirs if partitioned)...
  *   <root>/v=<N>/_PARTS     // partition-aware commits only: "<ver>\t<dir>"
  *   <root>/v=<N>/_COMMITTED // written after the pointer swap (recovery key)
  *   <root>/_LATEST          // single line: N
  * }}}
  *
  * A full rewrite stages the complete new snapshot into `v=<N+1>` and then
  * atomically replaces the `_LATEST` pointer (HDFS/posix rename of a
  * one-line file). Readers resolve the pointer first, so they never observe
  * a half-written snapshot. Single-writer-per-table is assumed — faithful
  * to the reference, where each table is owned by exactly one job.
  *
  * '''Partition-aware commits''' ([[writePartitions]]) are the analog of
  * Delta MERGE's file-level pruning: a version that only touched some hive
  * partitions stages ONLY those partition dirs and records a `_PARTS`
  * manifest mapping every live partition dir to the version whose files
  * hold it. Untouched partitions are carried into the new version ''by
  * reference'' — zero bytes rewritten. This is the property that keeps an
  * incremental merge O(batch), not O(table), at 100 TB: the reference gets
  * it from Delta's log (src/silver/trips_bronze_to_silver.py:347-432,
  * where MERGE touches only matched files); we get it from the manifest.
  *
  * VACUUM ≙ deleting version dirs older than the pointer (keepVersions)
  * that are not referenced by any retained version's manifest.
  *
  * '''Writer fencing''': single-writer-per-table is the contract, but a
  * MISCONFIGURED second writer must lose loudly, not silently (the
  * last-pointer-swap-wins failure a plain stage-then-swap has). Every
  * commit stages into a unique dot-prefixed dir invisible to readers,
  * then [[promote]]s: re-check the pointer against the version the
  * commit was computed from (throw [[ConcurrentWriteException]] on
  * drift), claim `v=<next>` by an EXCLUSIVE rename (two writers racing
  * the same next — only one rename can succeed), swap the pointer. The
  * loser's staged bytes are deleted; the winner's version is never
  * touched by the loser. Residual window: a writer paused longer than
  * the reclaim grace between its exclusive rename and its pointer swap
  * (a sub-millisecond span) can be reclaimed as crashed — the
  * documented lease-less-fencing tradeoff on rename-only filesystems.
  */
object AtomicRewrite {

  /** A second writer detected at commit time: the table advanced (or the
    * target version was claimed) after this writer staged. The staged
    * bytes are rolled back; the table stays at the winner's version. */
  final class ConcurrentWriteException(msg: String)
    extends IllegalStateException(msg)

  private val ManifestFile = "_PARTS"
  private val CommittedMarker = "_COMMITTED"
  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(root: String) = new Path(root, "_LATEST")

  /** Full contents of a small metadata file, None when absent.
    * readFully, not a single read(): a short read would silently parse
    * truncated contents (a version number, a manifest line). */
  private def readSmallText(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, StandardCharsets.UTF_8))
    }

  def exists(spark: SparkSession, root: String): Boolean =
    currentVersion(spark, root).isDefined

  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, new Path(root))
    readSmallText(f, pointer(root)) match {
      case Some(s) => Some(s.trim.toLong)
      case None =>
      // crash recovery: if the pointer was lost mid-swap, fall back to the
      // newest snapshot dir carrying the _COMMITTED marker, which is
      // written strictly AFTER the pointer swap — so a staged v=N whose
      // swap never happened is never picked up. (A crash between the swap
      // and the marker write plus a later pointer loss — two independent
      // failures — recovers to N-1; replay is idempotent, so that is
      // benign data-staleness, not corruption.)
      val rootPath = new Path(root)
      if (!f.exists(rootPath)) None
      else {
        val versions = f.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
        versions.filter(v => f.exists(new Path(root, s"v=$v/$CommittedMarker")))
          .lastOption
          // legacy fallback: tables written before the _COMMITTED marker
          // existed only have parquet's _SUCCESS — recover to the newest
          // of those rather than declaring the table gone (this re-opens
          // the staged-but-unswapped window ONLY for pre-marker dirs,
          // where replay idempotence already made it benign)
          .orElse(versions
            .filter(v => f.exists(new Path(root, s"v=$v/_SUCCESS")))
            .lastOption)
      }
    }
  }

  /** Tiny literal DataFrame from collected rows (affected-partition and
    * affected-key sets): severs any lineage back to the table being
    * rewritten (the ambiguous-self-join trap) and gives the optimizer a
    * broadcastable constant. Rows must be FEW — they sit on the driver
    * AND inline into the plan as a LocalRelation; wide sets (a
    * bulk-subject delete's touched partitions, up to
    * [[MaxSetMembershipTerms]]) must stay as collected rows and ride
    * [[writePartitionsRows]] / the InSet arm of [[partitionPredicate]]
    * instead of round-tripping through a frame. */
  def literalFrame(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                   schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** STATIC partition-pruning predicate from collected partition-value
    * rows: OR over rows of AND(col <=> lit(value)). A semi-join against
    * a literal frame leaves the pruning to DYNAMIC partition pruning,
    * which is config- and plan-shape-dependent — if it declines, the
    * scan reads every partition dir and only filters rows afterwards. A
    * literal predicate prunes at PLAN time, unconditionally (and `<=>`
    * keeps NULL partition values matchable). Rows must be few — they
    * inline into the plan. */
  /** Ceiling on inlined OR-of-AND terms: beyond this a predicate stops
    * being a pruning hint and becomes an analysis/codegen liability (a
    * catch-up run whose affected set is "every partition" would inline
    * thousands of terms). Callers with a bigger set should read the
    * whole table instead — at that spread a full scan IS the right
    * plan. SINGLE-column predicates are exempt up to
    * [[MaxSetMembershipTerms]]: they compile to one IN list that
    * Catalyst converts to an O(1)-lookup InSet — one plan node carrying
    * a value set, not per-term expression nodes — so a bulk-subject
    * erasure (a banned source spanning tens of thousands of partitions)
    * keeps its prune exactly when the table is biggest. */
  val MaxInlinedPartitionTerms = 4096

  /** Ceiling on single-column set-membership values (one IN → InSet).
    * Generous by design — the values were already collected to the
    * driver, so the real bound is the collect that produced them; this
    * guard only keeps a runaway set from inflating the plan state
    * unboundedly. At K = √N cells, even a 10¹²-vector index stays under
    * it. Sets past [[MaxInlinedPartitionTerms]] skip `isin`'s per-value
    * Literal children and construct the single InSet node directly, so
    * the ceiling costs one hash set of collected values — never ~10⁶
    * expression nodes through analysis. */
  val MaxSetMembershipTerms = 1 << 20

  def partitionPredicate(cols: Seq[String],
                         rows: Seq[org.apache.spark.sql.Row]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    require(rows.nonEmpty, "partitionPredicate needs at least one row")
    require(rows.size <=
        (if (cols.lengthCompare(1) == 0) MaxSetMembershipTerms
         else MaxInlinedPartitionTerms),
      s"partitionPredicate over ${rows.size} partition rows exceeds the " +
        "inlined-term ceiling; an affected set this wide should read the " +
        "full table (or semi-join), not inline a plan")
    if (cols.lengthCompare(1) == 0) {
      // single column: one IN list instead of N ORed equalities —
      // Catalyst converts a large IN to an O(1)-lookup InSet, so
      // thousands of values stay plan- and codegen-cheap. isin uses `=`
      // (NULL never matches), so a NULL partition value — legal, maps
      // to __HIVE_DEFAULT_PARTITION__ — gets an explicit isNull arm to
      // keep the `<=>` semantics.
      val values = rows.map(_.get(0))
      val nonNull = values.filter(_ != null)
      val in =
        if (nonNull.isEmpty) lit(false)
        else if (nonNull.lengthCompare(MaxInlinedPartitionTerms) <= 0)
          col(cols.head).isin(nonNull: _*)
        else {
          // past the inline width, `isin` would allocate one Literal
          // child per value and walk them all through analysis before
          // OptimizeIn collapses the list — at the 2^20 ceiling that is
          // ~1M expression nodes of pure driver cost. Build the
          // optimized form DIRECTLY: one InSet node over the values in
          // their catalyst representation (the same per-element
          // conversion Literal.apply performs).
          val hset = nonNull.map(org.apache.spark.sql.catalyst
            .CatalystTypeConverters.convertToCatalyst).toSet
          org.apache.spark.sql.graftshim.GraftShim.column(
            org.apache.spark.sql.catalyst.expressions.InSet(
              org.apache.spark.sql.graftshim.GraftShim.expression(
                col(cols.head)), hset))
        }
      if (values.contains(null)) in || col(cols.head).isNull else in
    } else {
      rows.map(r => cols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)).reduce(_ || _)
    }
  }

  /** Version-keyed driver cache of resolved read plans: constructing a
    * manifest-resolved DataFrame lists every partition dir and reads
    * parquet footers for schema — a pipeline batch re-reads the same
    * (table, version) several times (silver feeds dims, fact, dim_date).
    * A committed version is immutable, so the plan can be reused until
    * the version moves; one entry per (session, table), evicted on
    * version change. */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Long, Long, DataFrame)]()

  /** Same-version revalidation token: the commit marker's mtime. A table
    * DELETED and rebuilt at the same path lands on version 0 again — the
    * version number alone would serve a plan over the dead files. */
  private[tx] def versionToken(f: FileSystem, root: String, v: Long): Long = {
    def mtime(p: Path): Option[Long] =
      try Some(f.getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    mtime(new Path(root, s"v=$v/$CommittedMarker"))
      .orElse(mtime(new Path(root, s"v=$v"))).getOrElse(-1L)
  }

  /** Read the latest committed snapshot (manifest-resolved if the table
    * uses partition-aware commits). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"graft table does not exist: $root"))
    val key = (System.identityHashCode(spark), root)
    val tok = versionToken(fs(spark, new Path(root)), root, v)
    val hit = readCache.get(key)
    if (hit != null && hit._1 == v && hit._2 == tok) hit._3
    else {
      val df = readVersion(spark, root, v)
      readCache.put(key, (v, tok, df))
      df
    }
  }

  /** Commit `df` as the next full snapshot of the table.
    *
    * A table whose current version was partition-committed remembers its
    * partition columns (manifest header); a full rewrite through this
    * method KEEPS that hive layout (and re-records it) even when the
    * caller passes no `partitionBy` — so layout-oblivious writers (GDPR
    * scrubs, retention trims, migrations) cannot silently flatten a
    * partitioned table. */
  def write(spark: SparkSession, root: String, df: DataFrame,
            partitionBy: Seq[String] = Nil, keepVersions: Int = 2,
            sortBy: Seq[String] = Nil,
            bucketCount: Option[Int] = None): Unit = {
    val effective =
      if (partitionBy.nonEmpty) partitionBy
      else partitionColsOf(spark, root).filter(_.forall(df.columns.contains))
        .getOrElse(Nil)
    // a full rewrite is the one legal way to CHANGE the bucket count;
    // a layout-oblivious caller (no bucketCount) must not silently drop
    // the recorded one, so it carries forward
    val effectiveBuckets = bucketCount.orElse(bucketCountOf(spark, root))
    val f = fs(spark, new Path(root))
    val cur = currentVersion(spark, root)
    val next = cur.map(_ + 1).getOrElse(0L)
    val target = stagingPath(root, next)
    if (effective.isEmpty) {
      df.write.mode(SaveMode.Overwrite).parquet(target.toString)
    } else {
      partitionAligned(df, effective, sortBy,
        salted = !effective.contains("key_bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy(effective: _*)
        .parquet(target.toString)
      val newParts = listPartitionDirs(f, target, effective.length)
      if (newParts.isEmpty) {
        // zero rows: a partitioned write leaves no partition dirs and
        // nothing readable. Restage as a plain empty snapshot — the
        // schema-bearing empty parquet keeps the table readable (the
        // layout re-establishes on the next non-empty commit, which
        // synthesizes from dirs / finds none to carry)
        f.delete(target, true)
        df.write.mode(SaveMode.Overwrite).parquet(target.toString)
      } else {
        // full snapshot: the manifest lists ONLY this version (no carry)
        // — written so later partition-level commits know the layout
        writeManifest(f, target, effective, newParts.map(_ -> next).toMap,
          effectiveBuckets)
      }
    }
    promote(spark, root, cur, next, target)
    vacuum(spark, root, keepVersions)
  }

  /** Commit DRIVER-RESIDENT rows as the next full snapshot — the
    * control-plane twin of [[write]] for tiny tables whose rows already
    * live on the driver (watermark merges, 1-row stats summaries,
    * marker rows). Stages ONE parquet file via [[LocalParquet]] (zero
    * Spark jobs — a coalesce(1) job for a handful of rows costs a full
    * schedule/plan round-trip, ~60 of which ride every bench sweep),
    * then promotes and vacuums exactly like [[write]]. Plain tables
    * only: a partition-committed layout must go through [[write]] /
    * [[writePartitions]], which carry the manifest. */
  def writeLocalRows(spark: SparkSession, root: String,
                     rows: Seq[org.apache.spark.sql.Row],
                     schema: org.apache.spark.sql.types.StructType,
                     keepVersions: Int = 2): Unit = {
    require(partitionColsOf(spark, root).forall(_.isEmpty),
      s"$root is partition-committed; writeLocalRows would flatten it")
    val cur = currentVersion(spark, root)
    val next = cur.map(_ + 1).getOrElse(0L)
    val target = stagingPath(root, next)
    LocalParquet.write(spark, new Path(target, "part-00000.parquet"),
      rows, schema)
    promote(spark, root, cur, next, target)
    vacuum(spark, root, keepVersions)
  }

  /** Partition columns of the current version, if it carries a manifest
    * header (i.e. the table is partition-committed). */
  def partitionColsOf(spark: SparkSession, root: String): Option[Seq[String]] = {
    val f = fs(spark, new Path(root))
    currentVersion(spark, root).flatMap(v => manifestCols(f, root, v))
  }

  /** Commit a PARTITION-LEVEL rewrite: `df` holds the complete new contents
    * of the partitions being replaced; every other live partition is
    * carried into the new version by manifest reference, its files never
    * touched. `replaced` (distinct partition-value rows, columns =
    * `partitionBy`) names the partitions being replaced — any of them
    * absent from `df` is thereby deleted; when omitted, the replaced set
    * defaults to exactly the partitions `df` contains.
    *
    * The previous version must be hive-partitioned by the same columns
    * (either an earlier [[writePartitions]] commit or a [[write]] with the
    * same `partitionBy`). Timestamp-typed partition columns are not
    * supported (dir-name round-trip is zone-dependent); use dates or ints.
    *
    * Scale: the commit writes O(affected partitions) bytes while the table
    * holds O(all history) — the difference between a merge that stays
    * incremental at 100 TB and one that rewrites the world per batch.
    */
  def writePartitions(spark: SparkSession, root: String, df: DataFrame,
                      partitionBy: Seq[String],
                      replaced: Option[DataFrame] = None,
                      keepVersions: Int = 2,
                      bucketCount: Option[Int] = None): Unit =
    writePartitionsRows(spark, root, df, partitionBy,
      replaced.map { r =>
        (r.select(partitionBy.map(org.apache.spark.sql.functions.col): _*)
          .distinct().collect().toSeq,
          org.apache.spark.sql.types.StructType(
            partitionBy.map(c => r.schema(c))))
      }, keepVersions, bucketCount)

  /** [[writePartitions]] taking the replaced set as ALREADY-COLLECTED
    * partition-value rows (columns = `partitionBy`, in order). The
    * internal shape for wide sets: a bulk-subject delete's touched set
    * (up to [[MaxSetMembershipTerms]] values) was already collected by
    * discovery — round-tripping it through a DataFrame would inline an
    * O(set)-row LocalRelation into a plan just to collect it back. */
  private[tx] def writePartitionsRows(spark: SparkSession, root: String,
                      df: DataFrame,
                      partitionBy: Seq[String],
                      replaced: Option[(Seq[org.apache.spark.sql.Row],
                        org.apache.spark.sql.types.StructType)],
                      keepVersions: Int = 2,
                      bucketCount: Option[Int] = None): Unit =
    stagePartitionsRows(spark, root, df, partitionBy, replaced,
      keepVersions, bucketCount)()

  /** [[writePartitionsRows]] split at the commit point: performs the
    * full staging (data write + manifest) and returns the PROMOTE
    * closure (pointer swap + vacuum). Lets a caller with an ordering
    * contract between TWO tables stage both concurrently and still
    * swap their pointers in contract order — the commit point is the
    * pointer swap, never the staging ([[IndexStore.append]]'s
    * docstats-intent-first merge). The returned closure must run on a
    * table nothing else committed meanwhile (single-writer contract;
    * [[promote]] throws [[ConcurrentWriteException]] otherwise), and an
    * abandoned staging dir is reclaimed by the next vacuum's 24 h
    * sweep. */
  private[graft] def stagePartitions(spark: SparkSession, root: String,
                      df: DataFrame, partitionBy: Seq[String],
                      replaced: Option[DataFrame] = None,
                      keepVersions: Int = 2): () => Unit =
    stagePartitionsRows(spark, root, df, partitionBy,
      replaced.map { r =>
        (r.select(partitionBy.map(org.apache.spark.sql.functions.col): _*)
          .distinct().collect().toSeq,
          org.apache.spark.sql.types.StructType(
            partitionBy.map(c => r.schema(c))))
      }, keepVersions)

  private[graft] def stagePartitionsRows(spark: SparkSession, root: String,
                      df: DataFrame,
                      partitionBy: Seq[String],
                      replaced: Option[(Seq[org.apache.spark.sql.Row],
                        org.apache.spark.sql.types.StructType)],
                      keepVersions: Int = 2,
                      bucketCount: Option[Int] = None): () => Unit = {
    require(partitionBy.nonEmpty, "writePartitions needs partition columns")
    val f = fs(spark, new Path(root))
    val cur = currentVersion(spark, root)
    // a partition commit against a table recorded with a DIFFERENT layout
    // would merge incompatible dir shapes into one manifest and leave the
    // table unreadable — refuse before staging anything
    cur.flatMap(v => manifestCols(f, root, v)).foreach(recorded =>
      require(recorded == partitionBy,
        s"$root is partition-committed by $recorded, not $partitionBy"))
    // same for the hash-bucket count: a partition-sliced merge computed
    // with a different count remaps keys across dirs and corrupts the
    // table silently — only a full rewrite may change it
    val recordedBuckets = cur.flatMap(v => manifestBuckets(f, root, v))
    for (r <- recordedBuckets; b <- bucketCount)
      require(b == r,
        s"$root is hash-bucketed with $r buckets, not $b; the bucket " +
          "count is a table-lifetime constant — migrate via a full rewrite")
    val effectiveBuckets = bucketCount.orElse(recordedBuckets)
    val next = cur.map(_ + 1).getOrElse(0L)
    val target = stagingPath(root, next)
    partitionAligned(df, partitionBy,
        salted = !partitionBy.contains("key_bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(target.toString)
    val newParts = listPartitionDirs(f, target, partitionBy.length)
    val prev: Map[String, Long] = cur match {
      case None => Map.empty
      case Some(v) =>
        manifest(f, root, v).getOrElse {
          val parts = listPartitionDirs(f, new Path(root, s"v=$v"), partitionBy.length)
          if (parts.isEmpty && containsDataFiles(f, new Path(root, s"v=$v"))
              && !readVersion(spark, root, v).isEmpty)
            // a plain EMPTY snapshot (just a schema-bearing file) has
            // nothing to carry; a plain NON-empty one would lose its rows
            throw new IllegalStateException(
              s"$root v=$v is not hive-partitioned by $partitionBy; " +
                "partition-aware commit would drop its rows")
          parts.map(_ -> v).toMap
        }
    }
    val replacedDirs: Set[String] = replaced match {
      case None => newParts.toSet
      case Some((rows, schema)) =>
        val dirs = rows.map { row =>
            partitionBy.zipWithIndex.map { case (c, i) =>
              s"$c=${encodePartValue(row.get(i), schema(c).dataType)}"
            }.mkString("/")
          }.toSet
        val stray = newParts.filterNot(dirs)
        require(stray.isEmpty,
          s"written partitions $stray not in the declared replaced set $dirs " +
            "(partition-value path encoding mismatch?)")
        dirs
    }
    val merged = (prev -- replacedDirs) ++ newParts.map(_ -> next)
    if (merged.isEmpty) {
      // the commit emptied the table: restage as a plain empty snapshot
      // (an entry-less manifest would be unreadable)
      f.delete(target, true)
      df.write.mode(SaveMode.Overwrite).parquet(target.toString)
    } else {
      writeManifest(f, target, partitionBy, merged, effectiveBuckets)
    }
    () => {
      promote(spark, root, cur, next, target)
      vacuum(spark, root, keepVersions)
    }
  }

  /** Partition-DIFFED snapshot replace: commit `df` as the table's new
    * content, but rewrite ONLY the partitions whose content actually
    * moved against the committed version — per-partition signatures
    * decide; unmoved partitions ride the new manifest by reference,
    * partitions absent from `df` drop, and ZERO moved partitions is a
    * full no-op (no version burned). Returns whether anything
    * committed. First write (or a schema change — compared as the FULL
    * StructType, names and types, so a type-only evolution snapshots in
    * full instead of committing a mixed-schema manifest) snapshots in
    * full.
    *
    * The committed side of the diff reads a per-partition signature
    * SIDECAR committed with each snapshot (`v=N/_sigs`, the 1-row-per-
    * bucket stats-summary pattern) — O(buckets), never a re-hash of the
    * committed data files: a no-change release's plan touches zero
    * committed parquet. The sidecar is self-healing: a version without
    * one (legacy table, a crash between the data commit and the sidecar
    * write, a compact) falls back to one full committed-side recompute
    * and re-establishes the sidecar, exactly like the IndexStore stats
    * summary's version-stamp fallback. Every sidecar is derived from a
    * read-back of COMMITTED bytes — never from a re-evaluation of `df`,
    * whose two evaluations (diff, data write) nothing requires to
    * agree — so the committed sidecar always describes the committed
    * files, even for nondeterministic inputs.
    *
    * The signature is (row count, exact DECIMAL(38,0) sum, bit-XOR,
    * min, max of a full-row xxhash64 whose children interleave each
    * data column with its null flag). The null flags close xxhash64's
    * null-skip hole — Spark skips NULL children WITHOUT advancing the
    * seed, so without them `(a=5, b=NULL)` and `(a=NULL, b=5)` hash
    * identically and a same-typed value migration would ride stale.
    * The guarantee is PROBABILISTIC, not exact: the four combined
    * order-independent reductions make an adversarial cancellation
    * (hash deltas summing to zero AND xor-cancelling AND preserving the
    * extrema) ~2^-192 instead of a single sum's 2^-64 residue, but a
    * collision still means a changed partition silently rides by
    * reference. This is the shape for periodically re-derived snapshots
    * (a curated selection, a shard epoch) whose successive versions
    * mostly agree. */
  def writePartitionsDiffed(spark: SparkSession, root: String,
                            df: DataFrame, partCol: String,
                            keepVersions: Int = 2): Boolean =
    writePartitionsDiffedMoved(spark, root, df, partCol, keepVersions)
      .forall(_.nonEmpty)

  /** [[writePartitionsDiffed]] that also reports WHAT moved, for callers
    * maintaining per-partition derived state (the TrainingShards
    * manifest): `None` = the table was snapshotted in full (first
    * write, schema change, moved set too wide to inline — treat as
    * "everything moved"); `Some(Nil)` = full no-op, nothing committed;
    * `Some(values)` = exactly these partition values were rewritten or
    * dropped, every other partition rides by reference with
    * byte-identical content. */
  def writePartitionsDiffedMoved(spark: SparkSession, root: String,
                                 df: DataFrame, partCol: String,
                                 keepVersions: Int = 2): Option[Seq[Any]] = {
    import org.apache.spark.sql.functions.{coalesce, col, not}
    // the diff inherently reads the PREVIOUS version (its sidecar backs
    // the carried signatures evaluated after the new commit's vacuum) —
    // keepVersions=1 could delete those files mid-plan
    require(keepVersions >= 2,
      s"writePartitionsDiffed needs keepVersions >= 2, got $keepVersions")
    val freshCanon = canonicalSchema(df.schema)
    // EVERY sidecar below derives from a read-back of COMMITTED bytes,
    // never from a re-evaluation of `df`: `df` evaluates once for the
    // diff and once for the data write, and nothing requires those two
    // evaluations to agree (an unpersisted frame recomputed after
    // eviction, nondeterministic content). A sidecar hashed from
    // evaluation 1 while the disk holds evaluation 2 would be a LIE the
    // table then trusts forever — recipe valid, never healed — so the
    // extra read (O(moved) after a diff, O(table) after a full
    // snapshot: both the same order as the write they follow, against
    // just-written, page-warm files) buys the invariant that the
    // committed sidecar always describes the committed files.
    def fullSnapshot(): Option[Seq[Any]] = {
      write(spark, root, df, partitionBy = Seq(partCol),
        keepVersions = keepVersions)
      writeSidecar(spark, root, currentVersion(spark, root).get,
        sigAgg(read(spark, root), partCol), freshCanon)
      None
    }
    if (!exists(spark, root)) return fullSnapshot()
    val cur = currentVersion(spark, root).get
    // committed-side signatures: the sidecar (O(buckets) read), or one
    // full recompute from the committed data when no valid sidecar
    // exists — in which case the sidecar re-establishes below
    val (committedCanon, committedSigs, fromSidecar) =
      readSidecar(spark, root, cur) match {
        case Some((canon, sigs)) => (canon, sigs, true)
        case None =>
          val committed = read(spark, root)
          (canonicalSchema(committed.schema),
            sigAgg(committed, partCol).persist(), false)
      }
    def releaseCommitted(): Unit = if (!fromSidecar) committedSigs.unpersist()
    if (committedCanon != freshCanon) {
      releaseCommitted()
      return fullSnapshot()
    }
    val fresh = sigAgg(df, partCol).persist()
    val cm = committedSigs.select(col(partCol).as("__p"),
      col("__cnt").as("__ccnt"), col("__hsum").as("__chsum"),
      col("__hxor").as("__chxor"), col("__hmin").as("__chmin"),
      col("__hmax").as("__chmax"))
    // null-safe key equality and a null-safe mismatch test: a NULL
    // partition key is legal (__HIVE_DEFAULT_PARTITION__) and must
    // compare as itself, not vanish under SQL null semantics
    val moved = fresh.join(cm, fresh(partCol) <=> cm("__p"), "full_outer")
      .filter(not(col("__cnt") <=> col("__ccnt")) ||
        not(col("__hsum") <=> col("__chsum")) ||
        not(col("__hxor") <=> col("__chxor")) ||
        not(col("__hmin") <=> col("__chmin")) ||
        not(col("__hmax") <=> col("__chmax")))
      .select(coalesce(fresh(partCol), col("__p")).as(partCol))
      .collect().map(_.get(0)).toSeq
    fresh.unpersist() // consumed: only the collected moved set survives
    if (moved.isEmpty) {
      // unchanged content; if the committed side was recomputed (no
      // sidecar yet), persist it in place so the NEXT diff is O(buckets)
      // — additive hidden metadata, the committed data files untouched
      // (committedSigs derives from the committed read — honest)
      if (!fromSidecar) writeSidecar(spark, root, cur, committedSigs,
        committedCanon)
      releaseCommitted()
      return Some(Nil)
    }
    if (moved.size > MaxSetMembershipTerms) {
      // partCol is a single column, so the moved-set predicate compiles
      // to one IN→InSet at any realistic width (the deleteImpl
      // doctrine) — only a set outgrowing even that ceiling snapshots
      // in full; under it, a wide epoch diff (tens of thousands of
      // moved shards at 100 TB) still rides by reference everywhere
      // the signatures matched
      releaseCommitted()
      return fullSnapshot()
    }
    val dtype = df.schema(partCol).dataType
    val movedRows = moved.map(org.apache.spark.sql.Row(_))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(partCol, dtype)))
    val movedPred = partitionPredicate(Seq(partCol), movedRows)
    // null-safe membership (partitionPredicate uses <=>): a NULL-keyed
    // partition in the moved set keeps its replacement rows — plain
    // isin would silently drop them while the replaced set deletes the
    // old dir (data loss in the generic primitive)
    writePartitionsRows(spark, root, df.filter(movedPred),
      Seq(partCol), replaced = Some((movedRows, schema)),
      keepVersions = keepVersions)
    // the new version's sidecar: unmoved partitions CARRY their
    // committed signatures (same physical files ride the manifest by
    // reference), moved partitions re-hash from the NEW version's
    // committed bytes (plan-time pruned read of exactly the rewritten
    // dirs). Written after the pointer commit — a crash in between
    // leaves a committed version whose next diff recomputes once and
    // heals it.
    val sigCols = Seq(partCol, "__cnt", "__hsum", "__hxor", "__hmin", "__hmax")
    // null-safe NEGATION too: single-column movedPred is isin-based,
    // which yields NULL (not false) for a NULL partition key, and
    // not(NULL) filters the row — an unmoved NULL-keyed partition's
    // carried signature would silently vanish and the next diff would
    // re-rewrite that partition forever
    val carried = committedSigs
      .filter(not(coalesce(movedPred, org.apache.spark.sql.functions.lit(false))))
      .select(sigCols.map(col): _*)
    val rehashed = sigAgg(read(spark, root).filter(movedPred), partCol)
      .select(sigCols.map(col): _*)
    writeSidecar(spark, root, currentVersion(spark, root).get,
      carried.unionByName(rehashed), freshCanon)
    releaseCommitted()
    Some(moved)
  }

  private val SigDir = "_sigs"
  private val SigSchemaFile = "_sigs_schema"
  /** Bumping this invalidates every committed sidecar (they fall back
    * to one full recompute and re-establish) — the recipe version is
    * line 1 of [[SigSchemaFile]]. */
  private val SigRecipe = 2

  /** Canonical `name:type` schema form, name-sorted: the diff's schema
    * gate compares names AND types (a type-only evolution must snapshot
    * in full). Nullability is deliberately excluded — it carries no
    * content and flips spuriously under inference. */
  private def canonicalSchema(s: org.apache.spark.sql.types.StructType): String =
    s.fields.map(f => s"${f.name}:${f.dataType.sql}").sorted.mkString(";")

  /** Per-partition signature frame: partCol, __cnt, __hsum, __hxor,
    * __hmin, __hmax over the null-marker-interleaved full-row hash (see
    * [[writePartitionsDiffed]]). All five reductions are
    * order-independent, so the signature is partition-layout-blind. */
  private def sigAgg(d: DataFrame, partCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = d.columns.filter(_ != partCol).sorted
    // isnull flags are non-null booleans, so every column advances the
    // hash seed whether its value is NULL or not — the null-skip fix
    val h =
      if (dataCols.isEmpty) xxhash64(lit(1)) // partCol-only table: count decides
      else xxhash64(dataCols.toSeq.flatMap(c => Seq(isnull(col(c)), col(c))): _*)
    d.select(col(partCol), h.as("__h"))
      .groupBy(partCol)
      .agg(count(lit(1)).as("__cnt"),
        sum(col("__h").cast("decimal(38,0)")).as("__hsum"),
        expr("bit_xor(__h)").as("__hxor"),
        min(col("__h")).as("__hmin"),
        max(col("__h")).as("__hmax"))
  }

  /** Commit a version's signature sidecar: the parquet sig frame first,
    * the recipe+schema file LAST (its presence marks the sidecar
    * complete — a crash in between reads as "no sidecar", one recompute
    * heals). */
  private def writeSidecar(spark: SparkSession, root: String, version: Long,
                           sigs: DataFrame, canon: String): Unit = {
    val f = fs(spark, new Path(root))
    val dir = new Path(root, s"v=$version/$SigDir")
    f.delete(new Path(root, s"v=$version/$SigSchemaFile"), false)
    sigs.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
    writeText(f, new Path(root, s"v=$version/$SigSchemaFile"),
      s"$SigRecipe\n$canon")
  }

  /** Read a plain-text version-stamp HINT file — None when missing or
    * garbled. Hints are NOT versioned tables: they carry zero
    * correctness weight, and every unreadable state must send the
    * caller down its safe full-recompute path (the IndexStore
    * `docstats_shrunk_at` / TrainingShards `manifest_from` skip
    * discipline). A crash mid-write leaves a truncated number that
    * parses to None — same safe side. */
  def readHint(spark: SparkSession, path: String): Option[Long] = {
    val p = new Path(path)
    // unlike the pointer/manifest reads (where an unreadable file IS
    // corruption and must throw), an unreadable HINT — truncated,
    // bit-rotted, checksum-mismatched — reads as None: the caller's
    // full-recompute path is always safe, so a hint must never be able
    // to fail an operation
    try readSmallText(fs(spark, p), p).flatMap(_.trim.toLongOption)
    catch { case _: java.io.IOException => None }
  }

  /** Overwrite a version-stamp hint file (see [[readHint]]). */
  def writeHint(spark: SparkSession, path: String, v: Long): Unit = {
    val p = new Path(path)
    writeText(fs(spark, p), p, v.toString)
  }

  /** A version's committed signature sidecar, if complete and written
    * by the current recipe: (canonical schema, sig frame). */
  private def readSidecar(spark: SparkSession, root: String,
                          version: Long): Option[(String, DataFrame)] = {
    val f = fs(spark, new Path(root))
    readSmallText(f, new Path(root, s"v=$version/$SigSchemaFile"))
      .map(_.split("\n", 2)).collect {
        case Array(recipe, canon) if recipe.trim == SigRecipe.toString =>
          (canon,
            spark.read.parquet(new Path(root, s"v=$version/$SigDir").toString))
      }
  }

  /** Partition-aware DELETE: remove every row of the table whose `keyCol`
    * appears in `keys` (one column, same name). The shared shape of every
    * store's right-to-be-forgotten path: a semi-join finds the (few)
    * partitions holding a matching row, only those are rewritten
    * (plan-time pruned via [[partitionPredicate]], lineage severed through
    * the collected literal set), every other partition rides the manifest
    * by reference — O(affected partitions), never O(table). A partition
    * emptied by the delete vanishes from the manifest. A delete whose
    * matches spread over more partitions than [[MaxInlinedPartitionTerms]]
    * falls back to one full-table rewrite (at that spread a full scan IS
    * the right plan — and a hard failure here would poison the erasure
    * request driving it, re-failing on every retry cycle).
    *
    * Returns whether anything was rewritten. This is the BULK shape —
    * the driver sees only the touched partition set; a caller that also
    * needs the per-key outcome (audit trails) uses
    * [[deleteMatchingKeys]], which pays for the extra key collect.
    *
    * `pruneTo`: an optional predicate EVERY row matching `keys` is
    * guaranteed to satisfy — the caller's proof obligation (e.g. a
    * partition column that is a pure hash of the key column, or a
    * committed per-key partition list). The discovery semi-join scans
    * only the partitions the predicate prunes to, turning the O(table)
    * discovery into O(matching partitions); an UNSOUND predicate
    * silently strands matching rows, so callers without such a proof
    * must pass None. */
  def deleteMatching(spark: SparkSession, root: String,
                     keys: DataFrame, keyCol: String,
                     pruneTo: Option[Column] = None): Boolean =
    deleteImpl(spark, root, keys, keyCol, collectKeys = false, pruneTo)
      .isDefined

  /** [[deleteMatching]] that ALSO returns the DISTINCT matched key
    * values (empty = no matching rows, no version burned), so callers
    * can gate audit records on the actual per-key erasure, not just
    * "something was rewritten". The matched keys ship to the driver —
    * bounded by the key batch, which is small by the erasure-request
    * contract; bulk deletes (no audit) should use [[deleteMatching]],
    * whose driver traffic stays partition-cardinality. */
  def deleteMatchingKeys(spark: SparkSession, root: String,
                         keys: DataFrame, keyCol: String,
                         pruneTo: Option[Column] = None): Seq[Any] =
    deleteImpl(spark, root, keys, keyCol, collectKeys = true, pruneTo)
      .getOrElse(Nil)

  /** None = nothing matched; Some(keys) = rewrote (keys empty unless
    * `collectKeys`). */
  private def deleteImpl(spark: SparkSession, root: String,
                         keys: DataFrame, keyCol: String,
                         collectKeys: Boolean,
                         pruneTo: Option[Column]): Option[Seq[Any]] =
    stageDeleteMatching(spark, root, keys, keyCol, collectKeys, pruneTo)
      .map { d => d.promote(); d.matched }

  /** A fully staged partition-level delete: the matched keys (empty
    * unless requested), the touched partition-value rows, and the
    * promote closure (pointer swap + vacuum) — the
    * [[stagePartitions]] shape for deletes, so a caller with an
    * ordering contract between two tables can stage both deletes
    * concurrently and swap the pointers in contract order. */
  private[graft] case class StagedDelete(matched: Seq[Any],
                                         touched: Seq[org.apache.spark.sql.Row],
                                         promote: () => Unit)

  /** [[deleteMatching]] split at the commit point ([[stagePartitions]]'
    * discipline): runs the discovery scan and stages the rewritten
    * partitions, returning what it found plus the promote closure.
    * None = nothing matched, nothing staged, no version burned. The
    * full-table fallback (touched set beyond the predicate ceilings)
    * cannot pre-stage through this seam — its closure performs the
    * whole write, serialized at promote time (rare by construction:
    * single-column bucket layouts stay under [[MaxSetMembershipTerms]]). */
  private[graft] def stageDeleteMatching(spark: SparkSession, root: String,
                         keys: DataFrame, keyCol: String,
                         collectKeys: Boolean,
                         pruneTo: Option[Column]): Option[StagedDelete] = {
    import org.apache.spark.sql.functions.col
    if (!exists(spark, root)) return None
    val ks = keys.select(col(keyCol)).distinct()
    val table = read(spark, root)
    val pcols = partitionColsOf(spark, root).getOrElse {
      // a table fully emptied by an earlier delete is a plain empty
      // snapshot (manifests cannot be entry-less) — nothing to delete
      if (table.isEmpty) return None
      throw new IllegalStateException(
        s"$root is not partition-committed; deleteMatching would rewrite " +
          "the whole table — use write() with a filtered snapshot instead")
    }
    // pruneTo covers every matching row (the caller's proof), so the
    // discovery scan reads only the partitions it prunes to
    val matchedRows = pruneTo.map(table.filter).getOrElse(table)
      .join(ks, Seq(keyCol), "left_semi")
    // bulk shape: distinct over partition values only (narrow driver
    // traffic); audit shape: one pass over (key, partitions) pairs
    // yields both outputs
    val (matched, touched) =
      if (collectKeys) {
        val pairs = matchedRows
          .select((keyCol +: pcols).map(col): _*).distinct().collect()
        (pairs.map(_.get(0)).distinct.toSeq,
          pairs.map(r => org.apache.spark.sql.Row.fromSeq(
            pcols.indices.map(i => r.get(i + 1)))).distinct.toSeq)
      } else
        (Nil, matchedRows.select(pcols.map(col): _*).distinct().collect().toSeq)
    if (touched.isEmpty) return None
    val promote: () => Unit =
      if (touched.size > MaxInlinedPartitionTerms &&
          (pcols.lengthCompare(1) > 0 || touched.size > MaxSetMembershipTerms))
        // multi-column layouts (or a set outgrowing even the InSet
        // ceiling): at this spread a full scan IS the right plan — and a
        // hard failure here would poison the erasure request driving it
        () => write(spark, root, table.join(ks, Seq(keyCol), "left_anti"),
          partitionBy = pcols)
      else {
        // single-column wide sets ride the InSet shape of
        // partitionPredicate: a bulk-subject delete (a banned source
        // spanning tens of thousands of partitions) rewrites only its
        // touched partitions — bystanders ride the manifest by reference,
        // their pages never read — instead of degrading to an O(table)
        // rewrite exactly when the table is biggest. The touched rows
        // pass as-collected (writePartitionsRows) — a DataFrame wrap
        // would inline an O(set)-row LocalRelation just to collect it
        // back
        val keep = table.filter(partitionPredicate(pcols, touched))
          .join(ks, Seq(keyCol), "left_anti")
        stagePartitionsRows(spark, root, keep, pcols, replaced = Some((touched,
          org.apache.spark.sql.types.StructType(pcols.map(c => table.schema(c))))))
      }
    Some(StagedDelete(matched, touched, promote))
  }

  private def writeManifest(f: FileSystem, versionDir: Path,
                            partitionBy: Seq[String],
                            entries: Map[String, Long],
                            buckets: Option[Int] = None): Unit = {
    val headers = s"#cols=${partitionBy.mkString(",")}" +:
      buckets.map(b => s"#buckets=$b").toSeq
    writeText(f, new Path(versionDir, ManifestFile),
      (headers ++ entries.toSeq.sorted.map { case (d, v) => s"$v\t$d" })
        .mkString("\n"))
  }

  /** Hash-bucket count recorded in a version's manifest header — a
    * TABLE-LIFETIME constant for hash-bucketed layouts (hive-bucketing
    * semantics: a different count remaps keys across dirs). */
  private def manifestBuckets(f: FileSystem, root: String, v: Long): Option[Int] =
    manifestLines(f, root, v).flatMap(_.find(_.startsWith("#buckets="))
      .map(_.stripPrefix("#buckets=").trim.toInt))

  /** The current version's recorded hash-bucket count, if any. */
  def bucketCountOf(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, new Path(root))
    currentVersion(spark, root).flatMap(v => manifestBuckets(f, root, v))
  }

  /** Unique staging dir for a commit of `v=<next>`: dot-prefixed so the
    * version listing ([[currentVersion]]'s recovery scan) never sees it. */
  private def stagingPath(root: String, next: Long): Path =
    new Path(root, s".staging-v$next-${UUID.randomUUID()}")

  /** Promote a fully staged snapshot dir to `v=<next>` and swap the
    * pointer — the check-and-throw seam of the writer fence (object
    * doc). `expected` is the version this commit was computed against
    * (None = creating the table); any drift means a second writer won
    * and THIS writer must lose loudly with its staged bytes rolled
    * back, never silently clobber the winner's commit. */
  private[tx] def promote(spark: SparkSession, root: String,
                          expected: Option[Long], next: Long,
                          staging: Path): Unit = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    def fail(msg: String): Nothing = {
      f.delete(staging, true)
      throw new ConcurrentWriteException(
        s"$root: $msg (this commit was computed against version " +
          s"${expected.map(_.toString).getOrElse("<none>")}); " +
          "single-writer-per-table is the contract — fix the job config")
    }
    if (currentVersion(spark, root) != expected)
      fail("table advanced while this commit was staging")
    val dest = new Path(root, s"v=$next")
    val fc = FileContext.getFileContext(rootPath.toUri,
      spark.sparkContext.hadoopConfiguration)
    // EXCLUSIVE rename (no Rename.OVERWRITE): of two writers racing the
    // same next, exactly one claim succeeds — the other sees dest exist
    def renameExclusive(): Boolean =
      try { fc.rename(staging, dest); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (f.exists(dest)) false else throw e
      }
    if (!renameExclusive()) {
      // dest already exists: a concurrent writer claimed this version —
      // or an earlier writer crashed inside its (rename → swap) window,
      // milliseconds wide. Poll the pointer over a short grace to tell
      // them apart: movement ⟹ live winner (lose loudly); no movement
      // past the grace ⟹ crashed claim (reclaim it and retry once).
      val graceMs = spark.conf.getOption("graft.commit.graceMs")
        .map(_.toLong).getOrElse(2000L)
      val deadline = System.nanoTime() + graceMs * 1000000L
      while (currentVersion(spark, root) == expected &&
          System.nanoTime() < deadline) Thread.sleep(25)
      if (currentVersion(spark, root) != expected ||
          f.exists(new Path(dest, CommittedMarker)))
        fail(s"another writer committed v=$next concurrently")
      f.delete(dest, true)
      if (!renameExclusive())
        fail(s"v=$next claimed twice during the reclaim grace — " +
          "a live concurrent writer")
    }
    commitPointer(spark, root, next)
  }

  /** Atomic pointer swap: write sidecar then rename OVER the live
    * _LATEST in one FS op (FileContext + Rename.OVERWRITE), then drop the
    * _COMMITTED recovery marker into the version dir. The swap is the
    * commit point; the marker exists only so pointer-loss recovery can
    * tell committed versions from staged-but-never-swapped ones. */
  private def commitPointer(spark: SparkSession, root: String, next: Long): Unit = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val tmp = new Path(root, s"._LATEST.${UUID.randomUUID()}")
    writeText(f, tmp, next.toString)
    try {
      val fc = FileContext.getFileContext(rootPath.toUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, pointer(root), Options.Rename.OVERWRITE)
    } catch {
      case e: Exception =>
        throw new IllegalStateException(s"failed to commit pointer for $root", e)
    }
    writeText(f, new Path(root, s"v=$next/$CommittedMarker"), "")
  }

  /** Shuffle rows toward their hive partition before a partitioned write.
    * Unshuffled, every task writes a sliver into every partition dir it
    * touches — tasks × partitions tiny files, the classic explosion. A
    * pure hash-on-partition-cols repartition fixes that but collapses a
    * skewed (or single-valued) partition onto ONE task; the added salt
    * keeps up to 8 writers per partition dir — bounded files, preserved
    * parallelism. One shuffle per commit is the standard price.
    *
    * `salted = false` is for layouts whose partition columns already
    * include a uniform HASH BUCKET (key_bucket): the buckets are the
    * salt — skew is impossible by construction — and the 8-way salt
    * would only multiply the file count 8× (64 bucket dirs × 8 salts =
    * 512 slivers per commit where 64 files suffice). */
  private def partitionAligned(df: DataFrame, partitionBy: Seq[String],
                               sortBy: Seq[String] = Nil,
                               salted: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.col
    // REBALANCE, not a fixed salt: AQE sizes the write tasks from the
    // actual shuffle bytes — a tiny batch coalesces to a handful of
    // files instead of salt× per dir, a skewed partition splits into
    // advisory-sized tasks instead of 1/salt-th. Hash-bucketed layouts
    // (salted=false) keep one task per bucket — the dir IS the
    // parallelism grain there.
    val aligned =
      if (salted) df.hint("rebalance", partitionBy.map(col): _*)
      else df.repartition(partitionBy.map(col): _*)
    // cluster-sort must happen AFTER the aligning exchange or the order
    // is destroyed by the shuffle
    if (sortBy.isEmpty) aligned
    else aligned.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
  }

  private def writeText(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The `_PARTS` manifest of a version: partition dir → owning version.
    * None when the version is a plain full snapshot. */
  private def manifest(f: FileSystem, root: String, v: Long): Option[Map[String, Long]] =
    manifestLines(f, root, v).map(_.filterNot(_.startsWith("#")).map { line =>
      val Array(ver, dir) = line.split("\t", 2)
      dir -> ver.toLong
    }.toMap)

  /** Partition columns recorded in a version's manifest header. */
  private def manifestCols(f: FileSystem, root: String, v: Long): Option[Seq[String]] =
    manifestLines(f, root, v).flatMap(_.find(_.startsWith("#cols="))
      .map(_.stripPrefix("#cols=").split(",").toSeq.filter(_.nonEmpty)))

  private def manifestLines(f: FileSystem, root: String, v: Long): Option[Seq[String]] =
    readSmallText(f, new Path(root, s"v=$v/$ManifestFile"))
      .map(_.split("\n").toSeq.filter(_.nonEmpty))

  /** Relative `col=value[/col=value...]` dirs exactly `depth` levels deep. */
  private def listPartitionDirs(f: FileSystem, dir: Path, depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq("")
      else if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, d - 1)
          .map(rel => if (rel.isEmpty) s.getPath.getName else s"${s.getPath.getName}/$rel"))
    walk(dir, depth)
  }

  private def containsDataFiles(f: FileSystem, dir: Path): Boolean =
    f.exists(dir) && {
      val it = f.listFiles(dir, true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }

  /** Mirror of Spark's partition-path value encoding for the types we
    * partition by (ints, strings, dates). Spark-escaping of the odd chars
    * in string values is delegated to the catalyst util. */
  private def encodePartValue(v: Any, dt: org.apache.spark.sql.types.DataType): String =
    if (v == null) HiveDefaultPartition
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v.toString)

  /** Version-group relation cache: a manifest-resolved read constructs
    * one parquet relation PER OWNING VERSION (each paying its own file
    * listing + schema-inference job), and an append-style store
    * accretes one owning version per commit — so without this cache a
    * read after commit k re-inferred all k groups (O(versions) driver
    * jobs per read, measured growing 0.6 s → 1.5 s over 12 commits,
    * OPTIMIZATION_r16.md §4) even though k−1 of them are byte-identical
    * to the previous read's. A committed version dir is immutable, so the
    * (root, version, dir-set) relation can be reused forever; the
    * commit-marker mtime token guards the delete-and-rebuild hole
    * exactly like [[readCache]]. Access-ordered LRU, capped: entries for
    * vacuumed versions and dead sessions age out INCREMENTALLY as live
    * groups re-enter, instead of an unbounded map (or a full clear that
    * would re-infer every live group at once). */
  private val GroupCacheMax = 8192
  private val groupCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, String, Long, Long, String), DataFrame](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, Long, Long, String), DataFrame])
        : Boolean = size() > GroupCacheMax
    })

  private def readGroup(spark: SparkSession, root: String, ver: Long,
                        dirs: Seq[String]): DataFrame = {
    val base = s"$root/v=$ver"
    val tok = versionToken(fs(spark, new Path(root)), root, ver)
    val key = (System.identityHashCode(spark), root, ver, tok,
      dirs.sorted.mkString("\n"))
    val hit = groupCache.get(key)
    if (hit != null) hit
    else {
      val df = spark.read.option("basePath", base)
        .parquet(dirs.sorted.map(d => s"$base/$d"): _*)
      groupCache.put(key, df) // LRU-capped (removeEldestEntry)
      df
    }
  }

  /** Time travel (Delta `versionAsOf`): read a specific retained snapshot
    * version, resolving its partition manifest if present. Only versions
    * the vacuum policy kept are readable. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val p = new Path(root, s"v=$version")
    val f = fs(spark, p)
    if (!f.exists(p))
      throw new IllegalStateException(
        s"version $version of $root does not exist (vacuumed or never written)")
    manifest(f, root, version) match {
      case None => spark.read.parquet(p.toString)
      case Some(m) =>
        require(m.nonEmpty, s"$root v=$version has an empty partition manifest")
        m.groupBy(_._2).toSeq.sortBy(_._1).map { case (ver, parts) =>
          readGroup(spark, root, ver, parts.keys.toSeq)
        }.reduce(_.unionByName(_))
    }
  }

  /** Change-data-feed analog (Delta CDF): row-level delta between two
    * retained snapshot versions as full-row anti-joins —
    * `_change_type ∈ {insert, delete}` (an update appears as its delete +
    * insert pair, which is what a full-snapshot store can know without
    * key semantics). Downstream incremental consumers read the diff
    * instead of re-scanning the snapshot. Scale: two hash anti-joins on
    * all columns — and for partition-manifest versions only the dirs whose
    * owning version differs can contain changes, so the compare prunes to
    * exactly the partitions the later commits touched. */
  def diff(spark: SparkSession, root: String,
           fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val f = fs(spark, new Path(root))
    val (from, to) = (manifest(f, root, fromVersion), manifest(f, root, toVersion)) match {
      case (Some(a), Some(b)) =>
        // manifest-level pruning: a partition dir owned by the SAME version
        // on both sides is byte-identical — drop it from both reads
        val same = a.keySet.intersect(b.keySet).filter(d => a(d) == b(d))
        (readParts(spark, root, a -- same, fromVersion),
          readParts(spark, root, b -- same, toVersion))
      case _ =>
        (readVersion(spark, root, fromVersion), readVersion(spark, root, toVersion))
    }
    to.exceptAll(from).withColumn("_change_type", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("_change_type", lit("delete")))
  }

  private def readParts(spark: SparkSession, root: String,
                        m: Map[String, Long], version: Long): DataFrame =
    if (m.isEmpty) readVersion(spark, root, version).limit(0)
    else m.groupBy(_._2).toSeq.sortBy(_._1).map { case (ver, parts) =>
      readGroup(spark, root, ver, parts.keys.toSeq)
    }.reduce(_.unionByName(_))

  /** OPTIMIZE analog (Delta OPTIMIZE [ZORDER BY]): rewrite the current
    * snapshot into ~`targetBytes` files, optionally range-clustered +
    * sorted by `clusterBy` so parquet min/max stats enable data skipping
    * on those columns. For a partitioned table pass `partitionBy` — the
    * compacted snapshot keeps the hive layout AND collapses the partition
    * manifest (every partition re-owned by the new version), releasing the
    * old version dirs for vacuum. The small-files problem is the classic
    * operational cost of per-batch commits at scale — compaction amortizes
    * it without changing any row. Returns the new data-file count. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Nil,
              partitionBy: Seq[String] = Nil): Int = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"graft table does not exist: $root"))
    val dir = new Path(root, s"v=$v")
    val f = fs(spark, dir)
    if (manifest(f, root, v).isDefined)
      require(partitionBy.nonEmpty,
        s"$root is partition-committed; compact needs its partition columns " +
          "or the layout would be silently flattened")
    val bytes = liveBytes(f, root, v)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val cur = read(spark, root)
    import org.apache.spark.sql.functions.col
    // partitioned: write()'s aligning shuffle (8-way salted) + post-shuffle
    // cluster sort does the whole job — repartitioning here too would
    // shuffle the table twice and then be destroyed by the second exchange
    val out =
      if (partitionBy.nonEmpty) cur
      else if (clusterBy.isEmpty) cur.repartition(parts)
      else cur.repartitionByRange(parts, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    write(spark, root, out, partitionBy, sortBy = clusterBy)
    val newDir = new Path(root, s"v=${v + 1}")
    val it = f.listFiles(newDir, true) // recursive: partitioned layouts nest
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Bytes of the data files the current version actually references
    * (manifest-aware — a partition-committed version's own dir holds only
    * the partitions it rewrote). */
  private def liveBytes(f: FileSystem, root: String, v: Long): Long =
    manifest(f, root, v) match {
      case None => f.getContentSummary(new Path(root, s"v=$v")).getLength
      case Some(m) =>
        m.map { case (d, ver) =>
          f.getContentSummary(new Path(root, s"v=$ver/$d")).getLength
        }.sum
    }

  /** Minimum safe time-based retention (Delta's retentionDurationCheck
    * default, retention/bronze_retention_cleanup.py:43-46): vacuuming
    * below it risks deleting a snapshot a long-running reader resolved
    * from the pointer before the burst of commits that aged it out. */
  val MinRetainHours = 168.0

  /** Delete snapshot dirs older than the newest `keep` versions (≙ VACUUM)
    * — except dirs still referenced by a retained version's partition
    * manifest, whose files are live by reference, and (when `retainHours`
    * is set) dirs COMMITTED within the last `retainHours`: a burst of
    * commits can blow through any version COUNT in minutes, destroying a
    * snapshot a slow reader still holds — the time floor is what actually
    * protects readers (the reference delegates this to Delta's
    * `vacuum(RETAIN_HOURS)`). `retainHours` below [[MinRetainHours]] is
    * refused unless `allowUnsafeRetention` (the reference's
    * retentionDurationCheck override, DEV only). The parameterless floor
    * (None) keeps pure count-based semantics — the per-commit
    * housekeeping default; production retention jobs pass hours. */
  def vacuum(spark: SparkSession, root: String, keep: Int,
             retainHours: Option[Double] = None,
             allowUnsafeRetention: Boolean = false): Unit = {
    retainHours.foreach(h => require(h >= MinRetainHours || allowUnsafeRetention,
      s"retainHours=$h is below the $MinRetainHours-hour safety floor; " +
        "pass allowUnsafeRetention=true only if no reader can hold old snapshots"))
    val f = fs(spark, new Path(root))
    // crashed writers' staging leftovers: invisible to readers
    // (dot-prefixed, never in the version listing), they only hold
    // disk. A day's grace means no live stage is ever reclaimed here
    // (commits stage minutes-to-hours, not days); the promote fence's
    // own grace handles the renamed-but-unswapped window separately.
    val stagingCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    if (f.exists(new Path(root)))
      f.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-v")
          && s.getModificationTime < stagingCutoff)
        .foreach(s => f.delete(s.getPath, true))
    val floor: Long = retainHours
      .map(h => System.currentTimeMillis() - (h * 3600 * 1000).toLong)
      .getOrElse(Long.MaxValue)
    currentVersion(spark, root).foreach { latest =>
      val cutoff = latest - math.max(keep - 1, 0)
      val versions = f.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .map(s => s.getPath.getName.stripPrefix("v=").toLong)
      val referenced = versions.filter(_ >= cutoff)
        .flatMap(v => manifest(f, root, v).map(_.values.toSeq).getOrElse(Nil))
        .toSet
      versions.filter(v => v < cutoff && !referenced.contains(v) &&
          commitTime(f, root, v) < floor).foreach { v =>
        f.delete(new Path(root, s"v=$v"), true)
      }
    }
  }

  /** When a version was committed: the `_COMMITTED` marker's mtime (it is
    * written at the commit point), falling back to `_SUCCESS` then the
    * dir itself for pre-marker snapshots. */
  private def commitTime(f: FileSystem, root: String, v: Long): Long =
    Seq(s"v=$v/$CommittedMarker", s"v=$v/_SUCCESS", s"v=$v")
      .map(new Path(root, _)).collectFirst {
        case p if f.exists(p) => f.getFileStatus(p).getModificationTime
      }.getOrElse(0L)
}
