package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`Array[Float]`):
 *
 *  - brute-force cosine top-k — the exact baseline; a single
 *    narrow map over the corpus, then a k-row ordered take;
 *  - persisted IVF-flat index — the scale path: the corpus is
 *    assigned ONCE to nearest-centroid buckets and written
 *    bucket-partitioned; a query reads only its `nprobe` partitions;
 *  - persisted SRP-LSH (random hyperplane) index — same
 *    build-once/probe-partitions shape with Hamming-1 multi-probe.
 *
 * Both index builds are one narrow map pass over the corpus (no
 * shuffle beyond the partitioned write), and both query paths are
 * partition-pruned scans + an exact cosine re-rank — never a full
 * corpus pass per query (the round-2 one-shot forms recomputed the
 * whole assignment per query; SimilarityIndexSpec pins the pruning).
 *
 * The dot product folds in left-to-right element order with double
 * accumulation — deterministic at any parallelism and bit-identical
 * to the DuckDB oracles' `list_reduce` mirror.
 */
object Similarity {

  /** Σ a_i·b_i with double accumulation (deterministic fold order).
    * Native codegen'd loop ([[graft.functions.DotExpr]]); `DeclOracles.dotDecl`
    * is the declarative reference form it must match bit-for-bit
    * (DotExprSpec pins the equivalence; every cosine oracle proves it
    * cross-engine). */
  def dot(a: Column, b: Column): Column = graft.functions.DotExpr(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** A constant-zero window partition key that is (a) NON-FOLDABLE —
    * a plain lit(0) is stripped by Spark 4's
    * EliminateWindowPartitions, and any `x · 0` over a NON-NULLABLE x
    * is now simplified to a foldable 0 and stripped the same way
    * (which is why coalesce(x, 0) · 0 does NOT work) — and (b)
    * null-proof: a bare `x · 0` maps a NULL x to a NULL key, silently
    * splitting the window in two and duplicating ranks.
    * `pmod(coalesce(x, 0), 1)` is 0 for every row, survives the
    * optimizer in both nullability cases, and costs one modulo per
    * row. Used to silence the false "No Partition Defined" WindowExec
    * warning on deliberately-single-partition ≤k-row rank windows, so
    * a REAL whole-table window regression stands out in the logs. */
  def constantZeroKey(c: Column): Column =
    pmod(coalesce(c.cast("long"), lit(0L)), lit(1L))

  /** Exact brute-force top-k by cosine against one query vector.
    * Returns (rank, id, cosine). Tie-break: cosine desc, id asc. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query.toSeq)
    // rank window runs over the ≤ k surviving rows only; see
    // constantZeroKey for why this exact key shape
    df.select(col(idCol).as("id"), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(constantZeroKey(col("id")))
          .orderBy(col("cosine").desc, col("id").asc)))
      .select(col("rank"), col("id"), col("cosine"))
  }

  /** Deterministic pseudo-random plane component r_{j,i} ∈ [-0.5, 0.5):
    * pure integer arithmetic (multiplicative hash mod P, then a
    * 5-digit mantissa), so an external SQL engine reproduces it
    * bit-for-bit — the DuckDB oracle mirrors this exactly. Overflow-
    * safe under ANSI: (j·100003 + 17 + i·257) < ~1e7, × 2654435761
    * < ~3e16 ≪ 2^63. */
  private[operators] def planeComponent(j: Int, i: Column): Column = {
    val h = pmod((lit(j.toLong * 100003L + 17L) + i.cast("long") * 257L)
      * lit(2654435761L), lit(Hashing.P))
    (pmod(h, lit(100000L)).cast("double") / 100000.0) - 0.5
  }

  /** Random-hyperplane bucket id (Charikar '02 SRP-LSH): bit j = sign
    * of <v, r_j> with deterministic pseudo-random plane r_j derived
    * from (j, dim) by arithmetic — no stored plane matrix, identical
    * on every executor (and in the cross-engine oracle). Native
    * one-fused-loop kernel ([[graft.functions.SrpBucketExpr]]);
    * `DeclOracles.hyperplaneBucketDecl` is the declarative reference form it
    * must match bit-for-bit (SimilarityIndexSpec pins the parity). */
  def hyperplaneBucket(v: Column, planes: Int): Column =
    graft.functions.SrpBucketExpr(v, planes)

  /** Fail fast on degenerate vectors (zero vector, NaN element,
    * dimension mismatch): [[graft.functions.ArgMaxCosExpr]] returns
    * null for them, and a null bucket would be written to the parquet
    * default partition — permanently invisible to the partition-pruned
    * probes, i.e. silent data loss. */
  private def requireBucket(bucket: Column, id: Column, op: String): Column =
    when(bucket.isNull, raise_error(concat(
      lit(s"$op: degenerate vector (zero/NaN/dimension mismatch) at id="),
      id.cast("string")))).otherwise(bucket)

  // ------------------------------------------------------------------
  // Driver-side probe arithmetic: the SAME left-fold double dot the
  // executors (and the oracle) use, so probe selection is
  // engine-independent.
  // ------------------------------------------------------------------
  private def dotD(a: Array[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def normD(a: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  // ==================================================================
  // Persisted IVF-flat index
  // ==================================================================

  def ivfCentroidsDir(dir: String): String = s"$dir/centroids"
  def ivfAssignedDir(dir: String): String = s"$dir/assigned"

  /**
   * Build a persisted IVF-flat index under `outDir`:
   *
   *  - `centroids/` — `numCentroids` rows `(cid, cv)`, a fixed-size
   *    deterministic pseudo-random sample of the corpus (hash-ordered
   *    by `(id · 2654435761) mod P`, ties by id — SQL-mirrorable, and
   *    independent of corpus size: the round-2 every-`step`-th-id rule
   *    grew the centroid count, and the per-centroid literal
   *    expression tree, linearly with the corpus). `kmeansIters > 0`
   *    refines them with spherical Lloyd iterations.
   *  - `assigned/` — the full corpus as `(id, v)` written
   *    `partitionBy(bucket)` where bucket = argmax-cosine centroid id
   *    (ties → lowest cid), computed by the native
   *    [[graft.functions.ArgMaxCosExpr]] (one codegen'd loop; the
   *    centroid matrix ships as plan data, not literal sub-trees).
   *
   * One narrow map pass over the corpus; queries then read `nprobe`
   * bucket partitions — never the full corpus.
   */
  /** @param kmeansTrainLimit 0 trains the refinement on the FULL
    *   corpus (each iteration shuffles n·dim contribution rows — the
    *   deterministic id-ordered fold forgoes map-side combine, so this
    *   is the small/medium-corpus setting and the gate path); > 0
    *   trains on that many rows chosen by the same deterministic hash
    *   order as the centroid sample — the 100 TB setting: centroid
    *   TRAINING sees a bounded sample, the full corpus pays only the
    *   one narrow final-assignment map. SQL-mirrorable either way
    *   (ORDER BY hash LIMIT n). */
  def ivfBuild(df: DataFrame, idCol: String, vecCol: String, outDir: String,
               numCentroids: Int = 64, kmeansIters: Int = 0,
               kmeansTrainLimit: Int = 0): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val sampled: Array[(Long, Seq[Float])] =
      df.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
        .orderBy(pmod(col("cid") * lit(2654435761L), lit(Hashing.P)).asc,
          col("cid").asc)
        .limit(numCentroids)
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
    require(sampled.nonEmpty, "ivfBuild: empty corpus")

    val trainBase = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val train =
      if (kmeansTrainLimit <= 0 || kmeansIters == 0) trainBase
      else trainBase
        .orderBy(pmod(col("id") * lit(2654435761L), lit(Hashing.P)).asc,
          col("id").asc)
        .limit(kmeansTrainLimit)
        .persist()

    // Optional SPHERICAL k-means refinement (Lloyd iterations): assign
    // to argmax-cosine centroid, recenter each centroid on the mean of
    // its bucket's UNIT vectors — sum(v/‖v‖) is the direction that
    // maximizes Σ cos(v, c) for a fixed assignment (the plain mean
    // only coincides when all norms are equal), so the objective is
    // monotone non-decreasing per iteration (SimilarityIndexSpec pins
    // it). Each iteration is one narrow assignment map + one
    // (bucket, pos)-keyed streaming fold; the k·dim partial sums
    // collected to the driver are tiny. The fold is DETERMINISTIC at
    // any parallelism: contributions are shuffled to their (bucket,
    // pos) group, sorted by doc id, and summed in that order — so the
    // trained centroids are bit-reproducible run-to-run (and by the
    // DuckDB oracle's `list(c ORDER BY id)` fold), unlike a plain
    // floating `sum` whose partial-merge order varies. Empty buckets
    // keep their previous centroid. kmeansIters = 0 keeps the raw
    // hash-sampled centroids.
    var matrix = sampled.map(_._2.toArray)
    val cids: Seq[Long] =
      if (kmeansIters == 0) sampled.map(_._1).toSeq
      else {
        for (_ <- 1 to kmeansIters) {
          val m = matrix
          val contrib = train
            .withColumn("b", requireBucket(
              graft.functions.ArgMaxCosExpr(col("v"), m), col("id"), "ivfBuild"))
            .withColumn("nrm", norm(col("v")))
            .select(col("b"), posexplode(col("v")).as(Seq("pos", "x")),
              col("id"), col("nrm"))
            .select(col("b"), col("pos"), col("id"),
              (col("x").cast("double") / col("nrm")).as("c"))
            .as[(Int, Int, Long, Double)]
          val sums = contrib
            .repartition(col("b"), col("pos"))
            .sortWithinPartitions("b", "pos", "id")
            .mapPartitions { it =>
              // streaming per-(b, pos) fold in ascending id order — no
              // per-group array, spills via the sort, deterministic
              val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double, Long)]
              var curB = -1; var curP = -1; var sx = 0.0; var n = 0L
              def flush(): Unit = if (n > 0) out += ((curB, curP, sx, n))
              it.foreach { case (b, p, _, c) =>
                if (b != curB || p != curP) { flush(); curB = b; curP = p; sx = 0.0; n = 0L }
                sx += c; n += 1
              }
              flush()
              out.iterator
            }
            .collect()
          val next = matrix.map(_.clone())
          sums.groupBy(_._1).foreach { case (b, rows) =>
            val dim = matrix(b).length
            val c = new Array[Float](dim)
            rows.foreach { case (_, pos, sx, n) => c(pos) = (sx / n).toFloat }
            next(b) = c
          }
          matrix = next
        }
        if (kmeansTrainLimit > 0) train.unpersist()
        matrix.indices.map(_.toLong)
      }
    cids.zip(matrix.map(_.toSeq)).toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(ivfCentroidsDir(outDir))

    // repartition on the bucket before the partitioned write: without
    // it every write task emits a file into every bucket directory
    // (tasks × buckets small files at scale); clustered, each bucket's
    // rows land in few files
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", requireBucket(element_at(typedLit(cids),
        graft.functions.ArgMaxCosExpr(col("v"), matrix) + 1), col("id"), "ivfBuild"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(ivfAssignedDir(outDir))
  }

  /**
   * Incrementally maintain a persisted IVF index: upsert changed/new
   * vectors and delete removed ids, rewriting ONLY the touched bucket
   * partitions (dynamic partition overwrite — the IVF analog of the
   * fulltext index's touched-segment overlays). Centroids stay fixed
   * from the initial build (standard IVF practice: assignment is
   * deterministic given centroids, so an upserted index equals a full
   * re-assignment of the final corpus — IvfUpsertSpec pins the
   * equality; re-train centroids by rebuilding when drift warrants).
   *
   * Scale shape: the new rows' assignment is one narrow map; the
   * rewrite reads only the touched buckets (partition-pruned), not the
   * corpus.
   */
  def ivfUpsert(upserts: DataFrame, idCol: String, vecCol: String,
                dir: String, deleteIds: Seq[Long] = Seq.empty): Unit =
    ivfUpsertDF(upserts, idCol, vecCol, dir,
      seqToIdDF(upserts.sparkSession, deleteIds))

  /** [[ivfUpsert]] with the deletions as a DataFrame (single `id`
    * column expected after selection of its first column): the bulk
    * path — a backfill's deletion set never lands on the driver. */
  def ivfUpsertDF(upserts: DataFrame, idCol: String, vecCol: String,
                  dir: String, deletes: DataFrame): Unit = {
    val spark = upserts.sparkSession
    import spark.implicits._
    val cents = spark.read.parquet(ivfCentroidsDir(dir))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val cids = cents.map(_._1).toSeq
    val matrix = cents.map(_._2.toArray)
    val assigned = upserts
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", requireBucket(element_at(typedLit(cids),
        graft.functions.ArgMaxCosExpr(col("v"), matrix) + 1), col("id"), "ivfUpsert"))
    upsertAssigned(spark, dir, ivfAssignedDir(dir), assigned, deletes)
  }

  /** [[ivfUpsert]] for the SRP index: same touched-bucket-only merge,
    * bucket = the persisted plane count's hyperplane hash. */
  def annUpsert(upserts: DataFrame, idCol: String, vecCol: String,
                dir: String, deleteIds: Seq[Long] = Seq.empty): Unit =
    annUpsertDF(upserts, idCol, vecCol, dir,
      seqToIdDF(upserts.sparkSession, deleteIds))

  /** [[annUpsert]] with the deletions as a DataFrame (bulk path). */
  def annUpsertDF(upserts: DataFrame, idCol: String, vecCol: String,
                  dir: String, deletes: DataFrame): Unit = {
    val spark = upserts.sparkSession
    import spark.implicits._
    val planes = spark.read.parquet(annMetaDir(dir)).as[Int].head()
    val assigned = upserts
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
    upsertAssigned(spark, dir, annAssignedDir(dir), assigned, deletes)
  }

  private def seqToIdDF(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    spark.createDataset(ids).toDF("id")
  }

  /** The merged touched-bucket view an upsert writes, plus the touched
    * bucket ids. ALL id-set logic is joins — the upsert batch never
    * touches the driver (a bulk backfill of 10^8 vectors must not
    * collect its ids or compile them into an IN-list literal); the only
    * driver-resident state is the touched-bucket list, bounded by the
    * BUCKET count. Contract: `assigned`/`deletes` must be DETERMINISTIC
    * frames (the commit path stages both to parquet first — this view
    * is evaluated in several separate actions, and a nondeterministic
    * source could make the collected touched list disagree with the
    * staged merge rows, turning an emptied-bucket delete into data
    * loss). Package-visible so the spec can pin the plan shape (joins,
    * no `In(id, [...])`). */
  private[graft] def upsertMergedView(spark: SparkSession,
                                          assignedDir: String,
                                          assigned: DataFrame,
                                          deletes: DataFrame): (DataFrame, Seq[Long]) = {
    import spark.implicits._
    // moved ids: upserted rows (which may MOVE across buckets — their
    // old copy must go) plus explicit deletions
    val movedIds = assigned.select("id")
      .unionByName(deletes.select(col(deletes.columns.head).cast("long").as("id")))
      .distinct()
    val old = spark.read.parquet(assignedDir)
    val oldHomes = upsertOldHomes(old, movedIds).as[Long].collect()
    val newHomes = assigned.select("bucket").distinct().as[Long].collect()
    val touched = (oldHomes ++ newHomes).distinct.toSeq
    val merged = old
      .filter(col("bucket").isInCollection(touched)) // partition-pruned read (bucket list, bounded)
      .join(movedIds, Seq("id"), "left_anti")        // drop stale copies
      .select("id", "v", "bucket")
      .unionByName(assigned.select("id", "v", "bucket"))
    (merged, touched)
  }

  /** Buckets currently holding any moved id — the ONE full-table pass
    * an upsert pays (it cannot know which buckets a trickle batch's
    * old copies live in without looking). Column pruning keeps the
    * scan to the 8-byte `id` column plus the `bucket` partition value
    * — never the vectors — so the pass is cheap columnar I/O, not a
    * corpus read; PlanAuditSpec pins the pruned shape. A persisted
    * (id → bucket) sidecar could drop even this; at that point the
    * sidecar's own maintenance dominates, so the pruned scan is the
    * deliberate trade. */
  private[graft] def upsertOldHomes(old: DataFrame, movedIds: DataFrame): DataFrame =
    old.join(movedIds, Seq("id"), "left_semi").select("bucket").distinct()

  /** The staged-merge dir name. NOT underscore-prefixed: Spark's file
    * index treats a leading-underscore READ ROOT as a hidden path and
    * logs a spurious "All paths were ignored" warning on every staged
    * read; the dir is transient (dropped in the same commit sequence)
    * and only ever read explicitly by path, so hidden-file semantics
    * buy nothing here. */
  private val UpsertStageDir = "upsert_stage"

  private def upsertJournalPath(dir: String) =
    java.nio.file.Paths.get(dir, "_upsert_journal")

  /** Finish (or discard) an interrupted upsert before reading the
    * table: the journal records the touched and expected-empty buckets
    * and is written only after the staged merge is complete, so replay
    * = redo the overwrite from the staging dir, clear the emptied
    * buckets, clean up. Without it, a crash between the dynamic
    * overwrite and the empty-bucket deletes leaves stale copies
    * serving from emptied buckets. */
  private def recoverUpsert(spark: SparkSession, dir: String,
                            assignedDir: String): Unit = {
    val journal = upsertJournalPath(dir)
    val tmp = java.nio.file.Paths.get(dir, UpsertStageDir)
    graft.store.Manifest.read(journal).foreach { j =>
      if (java.nio.file.Files.exists(tmp.resolve("_SUCCESS"))) {
        applyStagedUpsert(spark, dir, assignedDir,
          emptied = j.get("empty").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toLong))
      } else // journal without a complete stage cannot happen in order;
        java.nio.file.Files.deleteIfExists(journal) // treat as aborted
    }
    // a stale stage (or staged inputs) without a journal is a
    // pre-journal crash: discard
    graft.store.Manifest.deleteRecursively(tmp)
    graft.store.Manifest.deleteRecursively(
      java.nio.file.Paths.get(dir, "_tmp_upsert_in"))
  }

  /** Steps 2..4 of the upsert commit sequence: dynamic-overwrite the
    * touched buckets from the staged merge, clear buckets the upsert
    * emptied, then remove stage + journal (the journal LAST — it is
    * the replay marker). Idempotent: safe to replay after any crash. */
  private def applyStagedUpsert(spark: SparkSession, dir: String,
                                assignedDir: String, emptied: Seq[Long]): Unit = {
    val tmp = s"$dir/$UpsertStageDir"
    val sess = spark.newSession() // isolated conf for the dynamic overwrite
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    sess.read.parquet(tmp)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(assignedDir)
    // dynamic overwrite only rewrites partitions PRESENT in the output:
    // a touched bucket left with zero rows (every vector deleted or
    // moved away) must be cleared explicitly or its stale copies keep
    // serving — the same ghost-rows mode the fulltext builder's
    // zero-posting rebuild fix closed
    emptied.foreach { b =>
      graft.store.Manifest.deleteRecursively(
        java.nio.file.Paths.get(assignedDir, s"bucket=$b"))
    }
    graft.store.Manifest.deleteRecursively(java.nio.file.Paths.get(dir, UpsertStageDir))
    graft.store.Manifest.deleteRecursively(java.nio.file.Paths.get(dir, "_tmp_upsert_in"))
    java.nio.file.Files.deleteIfExists(upsertJournalPath(dir))
  }

  /** Merge freshly-assigned rows (id, v, bucket) + deletions into a
    * bucket-partitioned assignment table, rewriting only the touched
    * bucket partitions. Commit sequence (crash-safe, journaled):
    * stage the upsert INPUTS (so every later action sees one
    * materialized, deterministic copy — see [[upsertMergedView]]'s
    * contract) → stage the merged view OUT of the table (the overwrite
    * cannot read the path it rewrites) → journal {touched,
    * expected-empty} → dynamic partition overwrite → clear emptied
    * buckets → drop stages → drop journal. A rerun after a crash
    * anywhere replays from the journal ([[recoverUpsert]]) and
    * converges. */
  private def upsertAssigned(spark: SparkSession, dir: String,
                             assignedDir: String, assigned: DataFrame,
                             deletes: DataFrame): Unit = {
    import spark.implicits._
    recoverUpsert(spark, dir, assignedDir)
    val inDir = s"$dir/_tmp_upsert_in"
    assigned.write.mode("overwrite").parquet(s"$inDir/assigned")
    deletes.select(col(deletes.columns.head).cast("long").as("id"))
      .write.mode("overwrite").parquet(s"$inDir/deletes")
    val (merged, touched) = upsertMergedView(spark, assignedDir,
      spark.read.parquet(s"$inDir/assigned"),
      spark.read.parquet(s"$inDir/deletes"))
    if (touched.isEmpty) {
      graft.store.Manifest.deleteRecursively(java.nio.file.Paths.get(inDir))
      return
    }

    val tmp = s"$dir/$UpsertStageDir"
    merged.repartition(col("bucket"))
      .write.mode("overwrite").parquet(tmp)
    val remaining = spark.read.parquet(tmp)
      .select("bucket").distinct().as[Long].collect().toSet
    graft.store.Manifest.writeAtomic(upsertJournalPath(dir), Map(
      "touched" -> touched.sorted.mkString(","),
      "empty" -> touched.filterNot(remaining).sorted.mkString(",")))
    applyStagedUpsert(spark, dir, assignedDir,
      emptied = touched.filterNot(remaining))
  }

  /** Query a persisted IVF index: probe the `nprobe` centroid lists
    * nearest to the query (partition-pruned read of the assigned
    * table), exact cosine re-rank inside. Returns (id, cosine),
    * tie-break (cosine desc, id asc). */
  def ivfQuery(spark: SparkSession, dir: String, query: Array[Float],
               k: Int, nprobe: Int = 3): DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(ivfCentroidsDir(dir))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val qn = normD(query.toSeq)
    // contract: vectors are nonzero (cosine of a zero vector is NaN in
    // any engine); defensively rank NaN last so a degenerate centroid
    // can never enter the probe set
    val probes = cents.map { case (cid, cv) =>
      val s = dotD(query, cv) / (normD(cv) * qn)
      (cid, if (s.isNaN) Double.NegativeInfinity else s)
    }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1)

    val q = typedLit(query.toSeq)
    spark.read.parquet(ivfAssignedDir(dir))
      .filter(col("bucket").isInCollection(probes))
      .select(col("id"), cosine(col("v"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  // ==================================================================
  // Persisted SRP-LSH (random hyperplane) index
  // ==================================================================

  def annAssignedDir(dir: String): String = s"$dir/assigned"
  def annMetaDir(dir: String): String = s"$dir/meta"

  /** Build a persisted SRP-LSH index: the corpus as `(id, v)` written
    * `partitionBy(bucket)` with bucket = [[hyperplaneBucket]] (plane
    * count persisted in `meta/`). One narrow map pass. */
  def annBuild(df: DataFrame, idCol: String, vecCol: String, outDir: String,
               planes: Int = 12): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(planes).toDF("planes").coalesce(1)
      .write.mode("overwrite").parquet(annMetaDir(outDir))
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
      .repartition(col("bucket")) // cluster the partitioned write (see ivfBuild)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(annAssignedDir(outDir))
  }

  /** Query a persisted SRP index: the query's bucket plus all buckets
    * at Hamming distance 1 are probed (partition-pruned read), exact
    * cosine re-rank inside. Recall is approximate by construction —
    * [[bruteForceTopK]] is the exactness baseline. */
  def annQuery(spark: SparkSession, dir: String, query: Array[Float],
               k: Int): DataFrame = {
    import spark.implicits._
    val planes = spark.read.parquet(annMetaDir(dir)).as[Int].head()
    // query bucket via the same declarative expression over a 1-row
    // frame — identical arithmetic to the build (and the oracle)
    val qdf = Seq(query.toSeq).toDF("v")
    val qBucket = qdf.select(hyperplaneBucket(col("v"), planes)).head().getLong(0)
    val probes = qBucket +: (0 until planes).map(j => qBucket ^ (1L << j))
    val q = typedLit(query.toSeq)
    spark.read.parquet(annAssignedDir(dir))
      .filter(col("bucket").isInCollection(probes))
      .select(col("id"), cosine(col("v"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }
}
