package graft.queries

import graft.core.Tables
import graft.ops.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding similarity operators over `embeddings` (array<float>, 64-dim):
  * cosine near-dup pairs, brute-force top-k ANN, and an LSH-bucketed ANN
  * variant.
  *
  * Scale shape: cosine math is a narrow map (no UDF, all codegen'd
  * higher-order functions). The pairwise queries bound their candidate sets
  * — by IVF cell (q38) or sign-bit LSH bucket (q40) — which is the
  * 100 TB path: pre-partition the corpus by bucket and the self-join becomes
  * a co-partitioned join instead of a cross product. Brute-force q39 is the
  * small-query-set baseline: |Q| × corpus scan with a broadcast query set.
  */
object VectorQueries {

  /** Single-file corpus → spread the pairwise cosine work across cores —
    * only when the scan under-partitions (see TextQueries.docs); at real
    * scale the multi-file scan self-partitions and this is a no-op. The
    * decision reads the FS listing ([[Tables.loadSpread]]), not the
    * scan RDD. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "embeddings")

  /** Codegen'd cosine ([[graft.functions.CosineSimilarity]]) — one tight
    * primitive loop per pair inside whole-stage codegen, bit-identical to
    * the HOF formulation the oracle mirrors. */
  private def cosN(a: Column, b: Column) =
    round(graft.functions.GraftFunctions.cosine(a, b), 6)

  /** Fresh tmp root for a store-backed query (one per (query tag, sf
    * dir) so concurrent suites at different scales never collide);
    * deletes any prior run's store. */
  private def tmpStoreRoot(s: SparkSession, dir: String, tag: String): String =
    QueryUtil.tmpStoreRoot(s, dir, tag)

  private def materializeAndRelease(out: DataFrame, inputs: DataFrame*): DataFrame =
    QueryUtil.materializeAndRelease(out, inputs: _*)

  /** Trained K=⌈√N⌉ centroid set shared by the whole inline cell family
    * ([[graft.pipeline.AnnIndexStore.trainCentroids]]: deterministic
    * salted-hash seed, [[TrainIters]] Lloyd rounds, exact-decimal
    * means) — the production policy BASELINE.md's IVF scaling rows
    * pin. √N balances BOTH costs a cell family pays: assignment is
    * N·K = N^1.5 cosines and the within-cell pair blocks total
    * ~N²/K = N^1.5 — no parameter choice leaves a designed quadratic.
    * (The corpus-derived every-50th subset this replaces made
    * assignment N²/50; a FIXED K would flip the quadratic onto the
    * pair side instead.) Training is paid once per query and amortized
    * to zero through the persisted store in production, where K is the
    * caller's policy knob ([[q83]]/[[q94]] pin the fixed-[[TrainK]]
    * store shape). K is sized from the parquet FOOTER row count
    * ([[Tables.rowCount]] — a cached metadata read), not an `e.count()`
    * action: sizing cost one full-corpus scan per vector query for a
    * single scalar the file metadata already holds. */
  private def centroids(s: SparkSession, dir: String, e: DataFrame): DataFrame = {
    val k = math.ceil(math.sqrt(
      Tables.rowCount(s, dir, "embeddings").toDouble)).toInt
    broadcast(graft.pipeline.AnnIndexStore.trainCentroids(
      e.select(col("vec_id"), col("embedding")), k, TrainIters))
  }

  /** Fixed centroid count of the persisted-store queries (q83/q94/q101). */
  val TrainK = 16

  /** Lloyd rounds of the cell family's centroid training. */
  val TrainIters = 2

  /** Fixed query-panel size for the q128 recall eval (the IVF scaling
    * protocol in BASELINE.md): the smallest [[EvalPanel]] ids matching
    * the `% 50` predicate, so eval cost stays ~flat as the corpus grows. */
  val EvalPanel = 40

  /** Nearest-centroid assignment — argmax as a NARROW MAP (the
    * [[graft.pipeline.AnnIndexStore]] assign shape): the K centroids
    * pack into ONE broadcast row and each vector takes `array_max` over
    * (cos, −id) structs — no shuffle of the corpus at all, where the
    * previous groupBy argmax still exchanged one row per vector.
    * Tie-break matches the oracles: highest cos, then lowest
    * centroid_id. Input is keyed by `idCol` (unique — the embeddings
    * table's contract), so the per-row argmax equals the old per-key
    * max_by. */
  private def assign(df: DataFrame, cents: DataFrame, idCol: String): DataFrame = {
    val packed = graft.pipeline.AnnIndexStore.packedCentroids(
      df.sparkSession, cents)
    df.crossJoin(broadcast(packed))
      .withColumn("__best", array_max(transform(col("__cents"),
        c => struct(cosN(col("embedding"), c.getField("cv")).as("c"),
          (-c.getField("centroid_id")).as("ni"),
          c.getField("centroid_id").as("id")))))
      .select(col(idCol), col("embedding"),
        col("__best").getField("id").as("centroid_id"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding-cosine near-duplicate pairs with IVF-cell candidate
    // generation: the corpus is bucketed by nearest centroid (the same
    // broadcast-argmax assignment q45/q59 use) and pairs form only WITHIN
    // a cell — a co-partitioned equi-join, never a per-label or global
    // quadratic. At 100 TB the corpus pre-partitions by centroid_id and
    // each cell's pair block is independent work; a hot label no longer
    // means a hot self-join.
    "q38_cosine_neardup" -> ((s, dir) => {
      val e = emb(s, dir)
      val cells = assign(e, centroids(s, dir, e), "vec_id")
      cells.alias("a").join(cells.alias("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          cosN(col("a.embedding"), col("b.embedding")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
    }),

    // Semantic dedup keep-list — the embedding-space twin of q71: q38's
    // IVF-cell near-dup pairs collapse into components via the same
    // delta-iteration CC operator, and per component only the lowest
    // vec_id survives. The output is the keep/drop decision a training
    // pipeline applies before sampling; all the heavy lifting is the
    // bucketed pair join + O(frontier) label rounds.
    "q72_semantic_dedup" -> ((s, dir) => {
      val pairs = defs("q38_cosine_neardup")(s, dir)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      val labels = graft.ops.Graph.connectedComponents(pairs)
      val out = Tables.load(s, dir, "embeddings").select(col("vec_id"))
        .join(labels.select(col("id").as("vec_id"), col("component")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster_id"))
        .withColumn("keep", col("cluster_id") === col("vec_id"))
        .persist()
      out.count()
      labels.unpersist()
      out
    }),

    // Brute-force cosine top-k: every 50th vector queries the full corpus.
    "q39_ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosN(col("qv"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 5)
    }),

    // IVF-style ANN: deterministic centroid subset partitions the corpus
    // into cells (argmax-cosine assignment); queries probe only their
    // nearest centroid's cell (nprobe=1). The 100 TB path: the assignment
    // is a narrow map vs. K broadcast centroids, and the corpus can be
    // physically partitioned by centroid_id so a probe reads one cell.
    "q45_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = centroids(s, dir, e)
      val cells = assign(e, cents, "vec_id")
      val queries = assign(e.filter(col("vec_id") % 50 === 0), cents, "vec_id")
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("centroid_id"))
      cells.join(broadcast(queries), Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("centroid_id"), cosN(col("qv"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
    }),

    // One k-means centroid-update step over the IVF cells: new centroid =
    // elementwise mean of the member vectors. Output is (centroid_id, dim,
    // value) rows — no array re-assembly, so no collect_list ordering
    // hazards — with the exact DECIMAL(38,6) sum for cross-engine parity.
    // Scale: posexplode is a narrow 64× row multiply, then ONE keyed
    // aggregation on (centroid, dim) — the classic distributed k-means
    // shape (partial sums map-side, K×64 rows cross the shuffle).
    "q59_kmeans_step" -> ((s, dir) => {
      val e = emb(s, dir)
      val cells = assign(e, centroids(s, dir, e), "vec_id")
      // The mean is rounded in integer micro-unit space: sum the exact
      // 6-decimal element values as micro-unit longs, then half-away-from-
      // zero divide by n with pure integer arithmetic. round(double, 6)
      // here would diverge cross-engine on exact .5 boundary means (Spark
      // rounds the shortest-string repr, DuckDB the raw binary double —
      // observed at sf0.1).
      cells.select(col("centroid_id"), posexplode(col("embedding")))
        .groupBy(col("centroid_id"), (col("pos") + 1).as("dim"))
        .agg(count(lit(1)).as("n_members"),
          sum((col("col").cast("double").cast(DecimalType(38, 6)) * 1000000)
            .cast("long")).as("__s"))
        .select(col("centroid_id"), col("dim"), col("n_members"),
          expr("cast(cast(signum(__s) as bigint) * " +
            "((abs(__s) * 2 + n_members) div (n_members * 2)) as double) / 1000000")
            .as("new_value"))
    }),

    // IVF with nprobe=2: queries probe their TWO nearest centroids' cells
    // — the recall/cost knob of a real IVF index (q57 measures why
    // nprobe=1 misses). Corpus cells keep the max_by assignment; only the
    // small query set pays a window for its top-2 probes, and the probe
    // set broadcasts into the cell join.
    "q60_ann_ivf_nprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = centroids(s, dir, e)
      val cells = assign(e, cents, "vec_id")
      val probes = e.filter(col("vec_id") % 50 === 0).crossJoin(cents)
        .withColumn("__c_cos", cosN(col("embedding"), col("cv")))
        .withColumn("__rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("__c_cos").desc, col("centroid_id"))))
        .filter(col("__rn") <= 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("centroid_id"))
      cells.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosN(col("qv"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
    }),

    // Stratified deterministic downsample: 20 docs per label in salted-
    // hash order — reproducible class-balanced sampling with no RNG.
    // Runs through the TopKPerKey heap operator (rank-emitting variant),
    // NOT a row_number window: a window sorts every label's FULL row set
    // to keep 20, and a hot label serializes through one partition; the
    // heap keeps 20 rows per label with a map-side partial combine, so
    // the shuffle carries ≤ labels×20 rows per map partition regardless
    // of corpus size.
    "q61_stratified_sample" -> ((s, dir) =>
      graft.plans.TopKPerKey.perKeyWithRank(
        Tables.load(s, dir, "embeddings")
          .withColumn("__h", sha2(concat_ws("|", lit("sample"),
            col("vec_id").cast("string")), 256)),
        Seq("label"), Seq(col("__h"), col("vec_id")), 20, "sample_rank")
        .select(col("label"), col("vec_id"), col("sample_rank"))),

    // Quantized ANN: int8 vectors (8x smaller), ranking by exact integer
    // dot product — the memory-bandwidth scale path for a 100 TB corpus.
    "q49_ann_quantized" -> ((s, dir) => {
      val e = emb(s, dir)
        .select(col("vec_id"), VectorOps.quantizeInt8(col("embedding")).as("qv8"))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("qv8").as("q8"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          VectorOps.intDot(col("q8"), col("qv8")).as("qdot"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("qdot").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
    }),

    // ANN quality evaluation: recall@3 of the LSH-bucketed candidates vs
    // the brute-force ground truth — the eval harness every approximate
    // index needs before it replaces the exact path. Pure composition of
    // q39/q40 plans + one small keyed join, so it inherits their scale
    // shapes (broadcast query set, bucket equi-join).
    "q57_ann_recall" -> ((s, dir) => {
      val truth = defs("q39_ann_topk")(s, dir)
        .filter(col("rank") <= 3).select(col("query_id"), col("neighbor_id"))
      val approx = defs("q40_ann_lsh")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("hits"))
        .select(col("query_id"), col("n_truth"), col("hits"),
          round(col("hits") / col("n_truth"), 6).as("recall"))
    }),

    // The persisted IVF index end-to-end (q26's pattern for ANN): build
    // the centroid + cell-partitioned tables, then answer the q45 query
    // THROUGH the store — probes read only their hive cell partitions,
    // appends commit only touched cells (AnnIndexStoreSpec), ranking is
    // the TopKPerKey heap. The oracle is the direct IVF SQL, so the
    // store must return exactly what the index semantics promise.
    "q83_ann_index_store" -> ((s, dir) => {
      val root = tmpStoreRoot(s, dir, "ivf")
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
      graft.pipeline.AnnIndexStore.build(s, root, corpus,
        graft.pipeline.AnnIndexStore.trainCentroids(corpus, TrainK, TrainIters))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      graft.pipeline.AnnIndexStore.query(s, root, q, k = 3, nprobe = 1)
    }),

    // The TRAINED fixed-K production path of the persisted IVF index:
    // centroids come from trainCentroids (deterministic salted-hash seed,
    // 2 Lloyd rounds, exact-decimal means) instead of the corpus-derived
    // centroidEvery shape, so K stays constant as the corpus grows; the
    // query probes each query's TWO nearest cells through the store
    // (manifest-pruned hive partitions + TopKPerKey heaps). The oracle
    // replays the full train→assign→probe pipeline in SQL — every stage
    // is deterministic by construction (no RNG, lowest-id ties,
    // DECIMAL(38,6) means), which is what makes the production path
    // oracle-provable at all.
    "q94_ann_trained_store" -> ((s, dir) => {
      val root = tmpStoreRoot(s, dir, "ivfk")
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = graft.pipeline.AnnIndexStore.trainCentroids(e, TrainK, TrainIters)
      graft.pipeline.AnnIndexStore.build(s, root, e, cents)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      graft.pipeline.AnnIndexStore.query(s, root, q, k = 3, nprobe = 2)
    }),

    // GDPR erasure through the persisted IVF index: build, FORGET a
    // deterministic subject set, then answer the q83 probe — erased
    // vec_ids must be unretrievable while every survivor's ranking is
    // unchanged (the oracle recomputes the IVF query over the surviving
    // cells directly). The forget itself is partition-aware: only the
    // cells holding a forgotten id are rewritten (AnnIndexStoreSpec pins
    // the untouched-cell bytes), which is what keeps erasure O(touched
    // cells) on a 100 TB index.
    "q101_ann_forget" -> ((s, dir) => {
      val root = tmpStoreRoot(s, dir, "ivff")
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
      graft.pipeline.AnnIndexStore.build(s, root, corpus,
        graft.pipeline.AnnIndexStore.trainCentroids(corpus, TrainK, TrainIters))
      graft.pipeline.AnnIndexStore.forget(s, root,
        e.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      graft.pipeline.AnnIndexStore.query(s, root, q, k = 3, nprobe = 1)
    }),

    // Recall@3 of the PRODUCTION index (the trained fixed-K store,
    // q94's path) against brute-force ground truth — the q57 eval
    // harness pointed at the index a deployment would actually serve
    // from, so the recall/nprobe trade-off of the persisted store is a
    // measured, oracle-pinned number instead of a hope. The query set
    // is a FIXED [[EvalPanel]]-query sample (BASELINE.md's IVF scaling
    // protocol: the smallest matching ids, factor-independent), NOT the
    // corpus-growing `% 50` sweep the production queries serve — an
    // eval's cost must stay ~flat as the corpus grows, because its
    // truth side is one brute-force scan per PANEL, and a panel that
    // scales with N turns the grader into an O(N²/50) job.
    "q128_ann_recall_trained" -> ((s, dir) => {
      val root = tmpStoreRoot(s, dir, "ivfr")
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = graft.pipeline.AnnIndexStore.trainCentroids(e, TrainK, TrainIters)
      graft.pipeline.AnnIndexStore.build(s, root, e, cents)
      val panel = e.filter(col("vec_id") % 50 === 0)
        .orderBy("vec_id").limit(EvalPanel)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val approx = graft.pipeline.AnnIndexStore
        .query(s, root, panel, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1))
      // brute-force truth for the panel only: ONE corpus scan against
      // EvalPanel broadcast queries, flat in panel size
      val truth = e.crossJoin(broadcast(panel))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosN(col("qv"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3).select("query_id", "neighbor_id")
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("hits"))
        .select(col("query_id"), col("n_truth"), col("hits"),
          round(col("hits") / col("n_truth"), 6).as("recall"))
    }),

    // Label-centroid similarity matrix (the embedding-space drift /
    // class-confusability report: which labels' populations sit close
    // enough to blur a contrastive objective?): exact-decimal mean
    // vector per label (the q59 convention — order-independent sums,
    // deterministic assembly by dimension), then pairwise cosine over
    // the L label centroids. Linear pass + an L² pair block over a
    // HANDFUL of rows — the corpus never self-joins.
    "q131_label_centroid_sim" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      // q59's integer micro-unit mean: round(double, 6) diverges
      // cross-engine on boundary means (observed at sf0.1 for the
      // thousand-member label populations), so the mean is a pure
      // integer half-away-from-zero divide over exact micro-unit sums
      val cents = e.select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum((col("col").cast("double").cast(DecimalType(38, 6)) * 1000000)
            .cast("long")).as("s"))
        .select(col("label"), col("pos"),
          expr("cast(cast(signum(s) as bigint) * " +
            "((abs(s) * 2 + n) div (n * 2)) as double) / 1000000").as("m"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("cv"))
      cents.alias("a").join(cents.alias("b"),
          col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          cosN(col("a.cv"), col("b.cv")).as("cos_sim"))
    }),

    // LSH-bucketed ANN: candidates share an 8-bit coordinate-sign bucket.
    "q40_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
        .withColumn("bucket", VectorOps.signBucket(col("embedding"), 8))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("bucket"))
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
          cosN(col("qv"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
    }),

    // Hard-negative mining for contrastive embedding training: for each
    // anchor (every 25th vector), the 4 most-similar vectors carrying a
    // DIFFERENT label, candidates restricted to the anchor's IVF cell —
    // the mining twin of q38's near-dup join. The cell equi-join keeps a
    // 100 TB corpus subquadratic, and the rank<=k filter compiles to the
    // native TopKPerKey operator (heap, no global sort) under the
    // session's RankLimitToTopK rule.
    "q109_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val cells = assign(e, centroids(s, dir, e), "vec_id")
        .join(e.select(col("vec_id"), col("label")), "vec_id")
      val anchors = cells.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
          col("label").as("anchor_label"), col("centroid_id"))
      cells.join(anchors, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("anchor_id") &&
          col("label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("vec_id").as("negative_id"),
          col("label").as("negative_label"),
          cosN(col("av"), col("embedding")).as("cos_sim"))
        .withColumn("rank", row_number().over(Window.partitionBy("anchor_id")
          .orderBy(col("cos_sim").desc, col("negative_id"))))
        .filter(col("rank") <= 4)
    }),

    // CSLS hubness-corrected retrieval (the cross-domain similarity
    // local scaling of MUSE / the margin criterion of large-scale bitext
    // mining): raw cosine kNN over-retrieves "hub" vectors that sit close
    // to everything, so each endpoint's similarity is re-centered by its
    // own mean top-[[CslsK]] cosine — csls(x,y) = 2·cos(x,y) − r(x) − r(y)
    // — and queries rerank on that. Both the hub radii and the candidate
    // pairs form ONLY within an IVF cell (the q38 co-partitioned
    // equi-join), so the whole thing is two passes over cell-local pair
    // blocks: no global quadratic, and both rank cuts compile to the
    // native TopKPerKey heap under RankLimitToTopK.
    "q113_csls_rescore" -> ((s, dir) => {
      val e = emb(s, dir)
      val cells = assign(e, centroids(s, dir, e), "vec_id")
      val pairs = cells.alias("a").join(cells.alias("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          cosN(col("a.embedding"), col("b.embedding")).as("cos_sim"))
        .persist()
      pairs.count()
      val r = pairs
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy(col("cos_sim").desc, col("dst"))))
        .filter(col("rn") <= CslsK)
        .groupBy("src").agg(round(avg("cos_sim"), 6).as("r"))
      val out = pairs.filter(col("src") % 25 === 0)
        .join(r.select(col("src"), col("r").as("r_q")), "src")
        .join(r.select(col("src").as("dst"), col("r").as("r_n")), "dst")
        .select(col("src").as("query_id"), col("dst").as("neighbor_id"),
          col("cos_sim"),
          round(lit(2) * col("cos_sim") - col("r_q") - col("r_n"), 6).as("csls"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("csls").desc, col("neighbor_id"))))
        .filter(col("rank") <= 5)
      materializeAndRelease(out, pairs)
    }))

  /** Neighborhood size of the CSLS hub radius r(v) (q113). */
  val CslsK = 5

  // Sequential-fold cosine, mirroring VectorOps exactly (double throughout).
  // The ::FLOAT[] hop before ::DOUBLE[] mirrors Tables.load's array<float>
  // narrowing: on the shipped float32 data it is an exact no-op, and under
  // a float64 regeneration of embeddings.parquet both engines compute on
  // the same narrowed values instead of Spark-on-floats vs DuckDB-on-
  // doubles (the one oracle asymmetry the loader hardening left open).
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a::FLOAT[]::DOUBLE[], $b::FLOAT[]::DOUBLE[]), x -> x[1] * x[2]), (p, q) -> p + q)"
  private def normSql(a: String) =
    s"list_reduce(list_transform($a::FLOAT[]::DOUBLE[], x -> x * x), (p, q) -> p + q)"
  private def cosSql(a: String, b: String) =
    s"round(${dotSql(a, b)} / (sqrt(${normSql(a)}) * sqrt(${normSql(b)})), 6)"
  private val BucketSql = (1 to 8).map(i =>
    s"CASE WHEN (embedding::FLOAT[])[$i] >= 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")

  /** One Lloyd round in SQL: assign the corpus to `c<i-1>`, then per-
    * (centroid, dim) exact-decimal mean rounded to 6 and cast REAL —
    * exactly AnnIndexStore.trainCentroids' round. An emptied centroid
    * keeps its previous vector (left join + coalesce). */
  private def lloydRoundSql(i: Int): String = {
    val p = i - 1
    s"""a$i AS (SELECT e.vec_id, e.embedding, c.centroid_id,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
       |       FROM embeddings e, c$p c),
       |x$i AS (SELECT centroid_id, generate_subscripts(embedding, 1) AS dim,
       |         unnest(embedding::FLOAT[]::DOUBLE[]) AS val
       |       FROM a$i WHERE rn = 1),
       |s$i AS (SELECT centroid_id, dim, sum(CAST(val AS DECIMAL(38,6))) AS sd,
       |         count(*) AS cnt FROM x$i GROUP BY 1, 2),
       |m$i AS (SELECT centroid_id,
       |         list(CAST(round(CAST(sd AS DOUBLE) / cnt, 6) AS REAL)
       |           ORDER BY dim) AS mv
       |       FROM s$i GROUP BY 1),
       |c$i AS (SELECT c.centroid_id, COALESCE(m$i.mv, c.cv) AS cv
       |       FROM c$p c LEFT JOIN m$i USING (centroid_id))""".stripMargin
  }

  /** The shared trained-centroid chain (the exact
    * [[graft.pipeline.AnnIndexStore.trainCentroids]] replay: salted-hash
    * seed of `limitSql` vectors, [[TrainIters]] Lloyd rounds) ending in
    * a `cents` CTE — every cell-family oracle pins its centroid set on
    * this, the same set the Spark side trains, so no oracle anywhere
    * reproduces the corpus-derived (quadratic) every-50th shape. Claims
    * CTE names h, seed, c0..c$TrainIters and the per-round a/x/s/m
    * prefixes. */
  private def trainedCentsSql(limitSql: String): String =
    s"""h AS (SELECT vec_id, embedding,
       |       sha256('centroid|' || CAST(vec_id AS VARCHAR)) AS hh
       |     FROM embeddings),
       |seed AS (SELECT vec_id, embedding, hh FROM h ORDER BY hh, vec_id LIMIT $limitSql),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) AS INT)
       |         AS centroid_id, embedding AS cv
       |       FROM seed),
       |${(1 to TrainIters).map(lloydRoundSql).mkString(",\n")},
       |cents AS (SELECT centroid_id, cv FROM c$TrainIters)""".stripMargin

  /** Inline cell family: K = ⌈√N⌉ (the centroids() policy). */
  private val TrainedCentsSql: String = trainedCentsSql(
    "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)")

  /** Persisted-store queries: the fixed-[[TrainK]] build. */
  private val FixedCentsSql: String = trainedCentsSql(TrainK.toString)

  val oracles: Map[String, String] = Map(
    "q109_hard_negatives" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, label, centroid_id
         |          FROM asg WHERE rn = 1),
         |a AS (SELECT vec_id AS anchor_id, embedding AS av,
         |        label AS anchor_label, centroid_id
         |      FROM cells WHERE vec_id % 25 = 0),
         |cand AS (SELECT a.anchor_id, n.vec_id AS negative_id,
         |        n.label AS negative_label,
         |        ${cosSql("a.av", "n.embedding")} AS cos_sim
         |       FROM a JOIN cells n ON a.centroid_id = n.centroid_id
         |       WHERE n.vec_id <> a.anchor_id AND n.label <> a.anchor_label),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY cos_sim DESC, negative_id) AS INT) AS rank FROM cand)
         |SELECT anchor_id, negative_id, negative_label, cos_sim, rank
         |FROM r WHERE rank <= 4""".stripMargin,
    "q113_csls_rescore" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |        ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         |      FROM cells a JOIN cells b
         |        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
         |rk AS (SELECT src, cos_sim, row_number() OVER (PARTITION BY src
         |         ORDER BY cos_sim DESC, dst) AS rn FROM p),
         |r AS (SELECT src, round(avg(cos_sim), 6) AS r
         |      FROM rk WHERE rn <= $CslsK GROUP BY 1),
         |j AS (SELECT p.src, p.dst, p.cos_sim,
         |        round(2 * p.cos_sim - rq.r - rn2.r, 6) AS csls
         |      FROM p JOIN r rq ON p.src = rq.src
         |             JOIN r rn2 ON p.dst = rn2.src
         |      WHERE p.src % 25 = 0),
         |f AS (SELECT src AS query_id, dst AS neighbor_id, cos_sim, csls,
         |        CAST(row_number() OVER (PARTITION BY src
         |          ORDER BY csls DESC, dst) AS INT) AS rank
         |      FROM j)
         |SELECT query_id, neighbor_id, cos_sim, csls, rank
         |FROM f WHERE rank <= 5""".stripMargin,
    "q38_cosine_neardup" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         |FROM cells a JOIN cells b
         |  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
         |SELECT * FROM p WHERE cos_sim >= 0.3""".stripMargin,
    "q72_semantic_dedup" ->
      s"""WITH RECURSIVE $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |      FROM cells a JOIN cells b
         |        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         |      WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3),
         |edges AS (SELECT vec_a AS src, vec_b AS dst FROM p
         |          UNION ALL SELECT vec_b, vec_a FROM p),
         |walk(v, lab) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, w.lab FROM walk w JOIN edges e ON e.dst = w.v),
         |cc AS (SELECT v AS vec_id, min(lab) AS cluster_id FROM walk GROUP BY 1)
         |SELECT vec_id, cluster_id, (cluster_id = vec_id) AS keep FROM cc""".stripMargin,
    "q39_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT query_id, e.vec_id AS neighbor_id, ${cosSql("qv", "e.embedding")} AS cos_sim
         |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank FROM c)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5""".stripMargin,
    "q45_ann_ivf" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |      FROM cells WHERE vec_id % 50 = 0),
         |cand AS (SELECT q.query_id, cells.vec_id AS neighbor_id, q.centroid_id,
         |           ${cosSql("q.qv", "cells.embedding")} AS cos_sim
         |         FROM q JOIN cells USING (centroid_id)
         |         WHERE cells.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank FROM cand)
         |SELECT query_id, neighbor_id, centroid_id, cos_sim, rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q49_ann_quantized" -> {
      val q8 =
        """list_transform(embedding::FLOAT[]::DOUBLE[],
          |   x -> CAST(round((x * 127.0) / mx) AS INT))""".stripMargin.replace("\n", " ")
      s"""WITH m AS (SELECT vec_id,
         |  list_max(list_transform(embedding::FLOAT[]::DOUBLE[], x -> abs(x))) AS mx,
         |  embedding FROM embeddings),
         |e AS (SELECT vec_id, $q8 AS qv8 FROM m),
         |q AS (SELECT vec_id AS query_id, qv8 AS q8 FROM e WHERE vec_id % 50 = 0),
         |c AS (SELECT query_id, e.vec_id AS neighbor_id,
         |        list_reduce(list_transform(list_zip(q8, e.qv8),
         |          x -> CAST(x[1] AS BIGINT) * x[2]), (p, v) -> p + v) AS qdot
         |      FROM q, e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY qdot DESC, neighbor_id) AS INT) AS rank FROM c)
         |SELECT query_id, neighbor_id, qdot, rank FROM r WHERE rank <= 3""".stripMargin
    },
    "q83_ann_index_store" ->
      s"""WITH $FixedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |      FROM cells WHERE vec_id % 50 = 0),
         |cand AS (SELECT q.query_id, cells.vec_id AS neighbor_id,
         |           ${cosSql("q.qv", "cells.embedding")} AS cos_sim
         |         FROM q JOIN cells USING (centroid_id)
         |         WHERE cells.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    // q83's IVF query recomputed over the SURVIVING cells: the forgotten
    // set (vec_id % 7 = 3) is gone from the candidate side, while query
    // probes still assign against the (untouched) centroid set — so a
    // forgotten vector can still ASK, but can never be RETRIEVED.
    "q101_ann_forget" ->
      s"""WITH $FixedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |kept AS (SELECT * FROM cells WHERE vec_id % 7 <> 3),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |      FROM cells WHERE vec_id % 50 = 0),
         |cand AS (SELECT q.query_id, kept.vec_id AS neighbor_id,
         |           ${cosSql("q.qv", "kept.embedding")} AS cos_sim
         |         FROM q JOIN kept USING (centroid_id)
         |         WHERE kept.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    "q131_label_centroid_sim" ->
      s"""WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
         |        unnest(embedding::FLOAT[]::DOUBLE[]) AS val
         |      FROM embeddings),
         |g AS (SELECT label, dim, count(*) AS n,
         |        CAST(sum(CAST(CAST(val AS DECIMAL(38,6)) * 1000000 AS BIGINT))
         |          AS BIGINT) AS s
         |      FROM x GROUP BY 1, 2),
         |m AS (SELECT label, dim,
         |        CAST(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
         |          ((abs(s) * 2 + n) // (n * 2)) AS DOUBLE) / 1000000 AS REAL)
         |          AS mu
         |      FROM g),
         |c AS (SELECT label, list(mu ORDER BY dim) AS cv FROM m GROUP BY 1)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  ${cosSql("a.cv", "b.cv")} AS cos_sim
         |FROM c a JOIN c b ON a.label < b.label""".stripMargin,
    "q128_ann_recall_trained" ->
      s"""WITH $FixedCentsSql,
         |panel AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
         |          ORDER BY vec_id LIMIT $EvalPanel),
         |af AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |       FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM af WHERE rn = 1),
         |qa AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |       FROM embeddings e, cents c
         |       WHERE e.vec_id IN (SELECT vec_id FROM panel)),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |           FROM qa WHERE rn <= 2),
         |cand AS (SELECT query_id, cells.vec_id AS neighbor_id,
         |           ${cosSql("qv", "cells.embedding")} AS cos_sim
         |         FROM probes JOIN cells USING (centroid_id)
         |         WHERE cells.vec_id <> probes.query_id),
         |ar AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand),
         |approx AS (SELECT query_id, neighbor_id FROM ar WHERE rank <= 3),
         |bq AS (SELECT vec_id AS query_id, embedding AS qv
         |       FROM embeddings WHERE vec_id IN (SELECT vec_id FROM panel)),
         |bc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |         ${cosSql("qv", "e.embedding")} AS cos_sim
         |       FROM bq, embeddings e WHERE e.vec_id <> bq.query_id),
         |br AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id) AS rank FROM bc),
         |truth AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3)
         |SELECT t.query_id, count(*) AS n_truth,
         |  count(a.neighbor_id) AS hits,
         |  round(count(a.neighbor_id) / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    "q94_ann_trained_store" ->
      s"""WITH $FixedCentsSql,
         |af AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |       FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM af WHERE rn = 1),
         |qa AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |           ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |       FROM embeddings e, cents c WHERE e.vec_id % 50 = 0),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |           FROM qa WHERE rn <= 2),
         |cand AS (SELECT query_id, cells.vec_id AS neighbor_id,
         |           ${cosSql("qv", "cells.embedding")} AS cos_sim
         |         FROM probes JOIN cells USING (centroid_id)
         |         WHERE cells.vec_id <> probes.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim FROM r WHERE rank <= 3""".stripMargin,
    "q60_ann_ivf_nprobe" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |qasg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |         FROM embeddings e, cents c WHERE e.vec_id % 50 = 0),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id
         |           FROM qasg WHERE rn <= 2),
         |cand AS (SELECT query_id, cells.vec_id AS neighbor_id,
         |           ${cosSql("qv", "cells.embedding")} AS cos_sim
         |         FROM probes JOIN cells USING (centroid_id)
         |         WHERE cells.vec_id <> probes.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 3""".stripMargin,
    "q61_stratified_sample" ->
      """WITH r AS (SELECT label, vec_id,
        |  CAST(row_number() OVER (PARTITION BY label
        |    ORDER BY sha256('sample|' || CAST(vec_id AS VARCHAR)), vec_id) AS INT)
        |    AS sample_rank
        |  FROM embeddings)
        |SELECT label, vec_id, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin,
    "q59_kmeans_step" ->
      s"""WITH $TrainedCentsSql,
         |asg AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |          row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |            ${cosSql("e.embedding", "c.cv")} DESC, c.centroid_id) AS rn
         |        FROM embeddings e, cents c),
         |cells AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
         |x AS (SELECT centroid_id,
         |        generate_subscripts(embedding, 1) AS dim,
         |        unnest(embedding::FLOAT[]::DOUBLE[]) AS val
         |      FROM cells),
         |g AS (SELECT centroid_id, CAST(dim AS INT) AS dim,
         |        count(*) AS n_members,
         |        CAST(sum(CAST(CAST(val AS DECIMAL(38,6)) * 1000000 AS BIGINT))
         |          AS BIGINT) AS s
         |      FROM x GROUP BY 1, 2)
         |SELECT centroid_id, dim, n_members,
         |       CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
         |         ((abs(s) * 2 + n_members) // (n_members * 2)) AS DOUBLE)
         |         / 1000000 AS new_value
         |FROM g""".stripMargin,
    "q57_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT query_id, e.vec_id AS neighbor_id, ${cosSql("qv", "e.embedding")} AS cos_sim
         |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS rank FROM c),
         |truth AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
         |eb AS (SELECT vec_id, embedding, $BucketSql AS bucket FROM embeddings),
         |qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM eb WHERE vec_id % 50 = 0),
         |cb AS (SELECT query_id, eb.vec_id AS neighbor_id, ${cosSql("qv", "eb.embedding")} AS cos_sim
         |       FROM qb JOIN eb USING (bucket) WHERE eb.vec_id <> qb.query_id),
         |rb AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cb),
         |approx AS (SELECT query_id, neighbor_id FROM rb WHERE rank <= 3)
         |SELECT t.query_id, count(*) AS n_truth, count(a.neighbor_id) AS hits,
         |       round(count(a.neighbor_id) / count(*), 6) AS recall
         |FROM truth t LEFT JOIN approx a USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    "q40_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $BucketSql AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id % 50 = 0),
         |c AS (SELECT query_id, e.vec_id AS neighbor_id, e.bucket,
         |        ${cosSql("qv", "e.embedding")} AS cos_sim
         |      FROM q JOIN e USING (bucket) WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank FROM c)
         |SELECT query_id, neighbor_id, bucket, cos_sim, rank FROM r WHERE rank <= 3""".stripMargin)
}
