package graft.functions

import graft.SparkFunSuite
import graft.operators.{DeclOracles, Similarity}
import org.apache.spark.sql.functions._

/**
 * The persisted similarity indexes (IVF-flat and SRP-LSH) and the
 * native argmax-cosine kernel:
 *
 *  - runtime FILE pruning: a query's scan touches only the probed
 *    bucket partitions (checked with input_file_name over the rows
 *    actually read — stronger than the static PartitionFilters audit
 *    in PlanAuditSpec);
 *  - [[ArgMaxCosExpr]] bit-parity with the declarative per-centroid
 *    literal form it replaces (ties → lowest index; null semantics).
 */
class SimilarityIndexSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def vecs(n: Int, dim: Int): Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { i =>
      (i, (0 until dim).map(d => ((i * 31 + d * 13) % 101 - 50).toFloat / 50f))
    }

  test("ivf query reads ONLY the nprobe probed bucket partitions (file-level pruning)") {
    val data = vecs(60, 6)
    val df = data.toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-prune")
    Similarity.ivfBuild(df, "vec_id", "embedding", dir, numCentroids = 8)

    val query = data(11)._2.toArray
    // reproduce the probe set the query path computes
    val cents = spark.read.parquet(Similarity.ivfCentroidsDir(dir))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Seq[Float]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) {
        dab += a(i).toDouble * b(i).toDouble
        daa += a(i).toDouble * a(i).toDouble
        dbb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    val probes = cents.map { case (cid, cv) => (cid, cos(query, cv)) }
      .sortBy { case (cid, s) => (-s, cid) }.take(3).map(_._1).toSet

    // files actually read under the probe filter
    val readFiles = spark.read.parquet(Similarity.ivfAssignedDir(dir))
      .filter(col("bucket").isInCollection(probes.toSeq))
      .select(input_file_name()).distinct().as[String].collect()
    assert(readFiles.nonEmpty)
    val bucketOf = "bucket=(\\d+)".r
    val readBuckets = readFiles.flatMap(f =>
      bucketOf.findFirstMatchIn(f).map(_.group(1).toLong)).toSet
    assert(readBuckets.subsetOf(probes), s"read $readBuckets, probed $probes")
    // and the index genuinely has MORE buckets than were read
    val allBuckets = spark.read.parquet(Similarity.ivfAssignedDir(dir))
      .select("bucket").distinct().as[Long].collect().toSet
    assert(allBuckets.size > probes.size, s"only ${allBuckets.size} buckets built")
    // end-to-end: the query result equals brute force over the probed buckets
    val got = Similarity.ivfQuery(spark, dir, query, 5, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 11L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  test("ann query reads only Hamming-1 probe partitions") {
    val data = vecs(80, 6)
    val df = data.toDF("vec_id", "embedding")
    val dir = tmpDir("ann-prune")
    Similarity.annBuild(df, "vec_id", "embedding", dir, planes = 5)
    val query = data(19)._2.toArray
    val qBucket = Seq(query.toSeq).toDF("v")
      .select(Similarity.hyperplaneBucket(col("v"), 5)).head().getLong(0)
    val probes = (qBucket +: (0 until 5).map(j => qBucket ^ (1L << j))).toSet

    val got = Similarity.annQuery(spark, dir, query, 5)
    val withFile = spark.read.parquet(Similarity.annAssignedDir(dir))
      .filter(col("bucket").isInCollection(probes.toSeq))
      .select(input_file_name()).distinct().as[String].collect()
    val bucketOf = "bucket=(\\d+)".r
    val readBuckets = withFile.flatMap(f =>
      bucketOf.findFirstMatchIn(f).map(_.group(1).toLong)).toSet
    assert(readBuckets.subsetOf(probes), s"read $readBuckets, probed $probes")
    assert(got.as[(Long, Double)].collect().head._1 == 19L)
  }

  test("ArgMaxCosExpr matches the declarative literal-array argmax, ties → lowest index") {
    val dim = 5
    val cents: Array[Array[Float]] = Array(
      Array.tabulate(dim)(d => math.sin(d + 1).toFloat),
      Array.tabulate(dim)(d => math.cos(d * 2 + 1).toFloat),
      Array.tabulate(dim)(d => math.sin(d + 1).toFloat), // duplicate of 0 → tie
      Array.tabulate(dim)(d => (d - 2).toFloat))
    val rows = vecs(40, dim) ++ Seq((100L, cents(0).toSeq), (101L, cents(2).toSeq))
    val df = rows.toDF("id", "v")

    val native = df.select($"id", ArgMaxCosExpr($"v", cents).as("am"))
      .as[(Long, Int)].collect().sortBy(_._1)
    // declarative reference: one cosine sub-tree per centroid (the form
    // the native expression replaces), first max via array_position
    val sims = array(cents.map(c => Similarity.cosine($"v", typedLit(c.toSeq))): _*)
    val decl = df.select($"id",
        (array_position(sims, array_max(sims)) - 1).cast("int").as("am"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(native.toSeq == decl.toSeq)
    // the duplicate-centroid tie resolves to index 0, never 2
    assert(native.find(_._1 == 100L).get._2 == 0)
    assert(native.find(_._1 == 101L).get._2 == 0)
  }

  test("k-means refinement: spherical objective non-decreasing; refined index still serves") {
    // three well-separated direction clusters with noise
    val dim = 6
    def base(c: Int, d: Int): Float = (if ((c + d * 3) % 3 == 0) 1.0f else 0.05f)
    val data: Seq[(Long, Seq[Float])] = (0L until 90L).map { i =>
      val c = (i % 3).toInt
      // i·37 mod 101 injective for i < 101 → no two vectors identical
      (i, (0 until dim).map(d => base(c, d) + ((i * 37 + d * 11) % 101).toFloat / 1010f))
    }
    val df = data.toDF("vec_id", "embedding")

    def avgCosTo(dir: String): Double = {
      val cents = spark.read.parquet(Similarity.ivfCentroidsDir(dir))
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
      val m = cents.map(_._2.map(_.toFloat).toArray)
      def cos(a: Seq[Float], b: Array[Float]): Double = {
        var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
        while (i < b.length) {
          dab += a(i).toDouble * b(i).toDouble
          daa += a(i).toDouble * a(i).toDouble
          dbb += b(i).toDouble * b(i).toDouble; i += 1
        }
        dab / (math.sqrt(daa) * math.sqrt(dbb))
      }
      data.map { case (_, v) => m.map(c => cos(v, c)).max }.sum / data.size
    }

    val dir0 = tmpDir("ivf-km0"); val dir2 = tmpDir("ivf-km2")
    Similarity.ivfBuild(df, "vec_id", "embedding", dir0, numCentroids = 3, kmeansIters = 0)
    Similarity.ivfBuild(df, "vec_id", "embedding", dir2, numCentroids = 3, kmeansIters = 3)
    val (obj0, obj2) = (avgCosTo(dir0), avgCosTo(dir2))
    assert(obj2 >= obj0 - 1e-12, s"objective regressed: $obj0 -> $obj2")

    // the refined index still serves exact self-queries via its probe set
    val q = data(41)._2.toArray
    val got = Similarity.ivfQuery(spark, dir2, q, 3, nprobe = 1)
      .as[(Long, Double)].collect()
    assert(got.head._1 == 41L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  test("ivfUpsert: update/insert/delete rewrite only touched buckets; equals fresh assignment; empty bucket cleared") {
    val data = vecs(60, 6)
    val df = data.toDF("vec_id", "embedding")
    val dir = tmpDir("ivf-upsert")
    Similarity.ivfBuild(df, "vec_id", "embedding", dir, numCentroids = 4)
    val cents = spark.read.parquet(Similarity.ivfCentroidsDir(dir))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val matrix = cents.map(_._2.toArray)

    // updates that MOVE across buckets (replace vec with a far-away
    // one), plus brand-new ids, plus deletions
    val updates = Seq(
      (3L, data(40)._2), (7L, data(55)._2),
      (100L, data(10)._2.map(x => -x)), (101L, data(20)._2))
    val deletes = Seq(5L, 11L)
    Similarity.ivfUpsert(updates.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, deleteIds = deletes)

    // expected state: original minus deletes/updated, plus updates —
    // assigned with the SAME persisted centroids
    val finalCorpus = (data.filter(d => !deletes.contains(d._1) &&
        !updates.exists(_._1 == d._1)) ++ updates).toDF("id", "v")
    val expected = finalCorpus
      .select($"id", element_at(typedLit(cents.map(_._1).toSeq),
        ArgMaxCosExpr($"v", matrix) + 1).as("bucket"))
      .as[(Long, Long)].collect().toSet
    val got = spark.read.parquet(Similarity.ivfAssignedDir(dir))
      .select("id", "bucket").as[(Long, Long)].collect().toSet
    assert(got == expected)

    // queries serve the post-upsert corpus (moved vector found at its
    // new home, deleted id gone)
    val q = data(40)._2.toArray
    val hits = Similarity.ivfQuery(spark, dir, q, 5, nprobe = 1)
      .as[(Long, Double)].collect()
    assert(hits.take(2).map(_._1).toSet == Set(3L, 40L)) // id 3 now equals vec 40
    assert(!hits.map(_._1).contains(5L))

    // empty-bucket clearing: delete every member of one bucket
    val byBucket = got.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val (victim, members) = byBucket.minBy(_._2.size)
    Similarity.ivfUpsert(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, deleteIds = members)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(Similarity.ivfAssignedDir(dir), s"bucket=$victim")))
    val after = spark.read.parquet(Similarity.ivfAssignedDir(dir))
      .select("id").as[Long].collect().toSet
    assert(after == expected.map(_._1) -- members)
  }

  test("annUpsert: equals a fresh annBuild of the final corpus") {
    val data = vecs(50, 6)
    val df = data.toDF("vec_id", "embedding")
    val dir = tmpDir("ann-upsert"); val dirRef = tmpDir("ann-ref")
    Similarity.annBuild(df, "vec_id", "embedding", dir, planes = 5)
    val updates = Seq((4L, data(30)._2), (90L, data(12)._2.map(x => -x)))
    val deletes = Seq(9L)
    // the DataFrame-deletes overload (the bulk path) — same semantics
    Similarity.annUpsertDF(updates.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, deletes = deletes.toDF("id"))
    val finalCorpus = (data.filter(d => !deletes.contains(d._1) &&
      !updates.exists(_._1 == d._1)) ++ updates).toDF("vec_id", "embedding")
    Similarity.annBuild(finalCorpus, "vec_id", "embedding", dirRef, planes = 5)
    def state(d: String) = spark.read.parquet(Similarity.annAssignedDir(d))
      .select("id", "bucket").as[(Long, Long)].collect().toSet
    assert(state(dir) == state(dirRef))
  }

  test("SrpBucketExpr: bit-parity with the declarative per-plane form") {
    val base = vecs(120, 7).toDF("id", "v")
    // crafted edge rows: a null element (poisons every plane → bucket
    // 0 in the declarative form) and an empty vector
    val crafted = Seq(1000L, 1001L).toDF("id")
      .withColumn("v",
        when($"id" === 1000L, array(lit(1.0f), lit(null).cast("float"), lit(2.0f)))
          .otherwise(array().cast("array<float>")))
    val df = base.unionByName(crafted)
    for (planes <- Seq(1, 6, 12)) {
      val native = df.select($"id", Similarity.hyperplaneBucket($"v", planes).as("b"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val decl = df.select($"id", DeclOracles.hyperplaneBucketDecl($"v", planes).as("b"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(native == decl, s"planes=$planes")
      // non-degenerate: the hash genuinely spreads the corpus (the
      // lattice-generated vectors cluster, so the bar is modest)
      if (planes >= 6) assert(native.map(_._2).distinct.size > 2)
      assert(native.find(_._1 == 1000L).get._2 == 0L)
      assert(native.find(_._1 == 1001L).get._2 == 0L)
    }
    // null input → null (both forms)
    val nullRow = Seq(1L).toDF("id")
      .withColumn("v", lit(null).cast("array<float>"))
    assert(nullRow.select(Similarity.hyperplaneBucket($"v", 5)).head().isNullAt(0))
  }

  test("upsert id-set logic is joins, never literal IN-lists; bulk batch equals fresh assignment") {
    val data = vecs(80, 6)
    val dir = tmpDir("ivf-bulk")
    Similarity.ivfBuild(data.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, numCentroids = 4)
    val cents = spark.read.parquet(Similarity.ivfCentroidsDir(dir))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val matrix = cents.map(_._2.toArray)

    // plan shape: the merged view a BULK upsert writes must reach the
    // old table through joins — a literal id IN-list (the round-3
    // shape) compiles the whole batch into the plan and collects it to
    // the driver first. Bucket pruning (bounded by bucket count) is
    // the only IN-list allowed.
    val batch = (1000L until 1300L).map(i => (i, data((i % 80).toInt)._2))
    val assigned = batch.toDF("id", "v")
      .withColumn("bucket", element_at(typedLit(cents.map(_._1).toSeq),
        ArgMaxCosExpr($"v", matrix) + 1))
    val (merged, touched) = Similarity.upsertMergedView(
      spark, Similarity.ivfAssignedDir(dir), assigned, Seq(5L).toDF("id"))
    assert(touched.nonEmpty)
    val plan = merged.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), s"expected joins in the upsert plan:\n$plan")
    assert(!"""\bid#\d+L? IN """.r.findFirstIn(plan).isDefined,
      s"id IN-list leaked into the upsert plan:\n$plan")

    // end-to-end bulk equality: a 3000-row batch (vs the 80-row table)
    // upserts to exactly the fresh assignment of the final corpus
    val bulk = (2000L until 5000L).map(i => (i, data((i % 80).toInt)._2))
    Similarity.ivfUpsert(bulk.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, deleteIds = Seq(3L, 7L))
    val finalCorpus = (data.filterNot(d => Seq(3L, 7L).contains(d._1)) ++ bulk)
      .toDF("id", "v")
    val expected = finalCorpus
      .select($"id", element_at(typedLit(cents.map(_._1).toSeq),
        ArgMaxCosExpr($"v", matrix) + 1).as("bucket"))
      .as[(Long, Long)].collect().toSet
    val got = spark.read.parquet(Similarity.ivfAssignedDir(dir))
      .select("id", "bucket").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("interrupted upsert: the journal replays the emptied-bucket clear on the next call") {
    val data = vecs(40, 6)
    val dir = tmpDir("ivf-journal")
    Similarity.ivfBuild(data.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, numCentroids = 4)
    val assignedDir = Similarity.ivfAssignedDir(dir)
    val byBucket = spark.read.parquet(assignedDir)
      .select("id", "bucket").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val (victim, members) = byBucket.minBy(_._2.size)

    // legitimately empty the victim bucket, then SIMULATE the crash
    // window (overwrite done, empty-bucket delete not): restore a
    // stale copy of the bucket dir, restore the journal + completed
    // stage exactly as the crashed process left them
    Similarity.ivfUpsert(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, deleteIds = members)
    val bucketPath = java.nio.file.Paths.get(assignedDir, s"bucket=$victim")
    assert(!java.nio.file.Files.exists(bucketPath))
    members.toDF("id")
      .withColumn("v", array(lit(1.0f)))
      .write.parquet(bucketPath.toString) // stale ghost rows
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
          org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.LongType))))
      .write.mode("overwrite").parquet(s"$dir/upsert_stage")
    graft.store.Manifest.writeAtomic(
      java.nio.file.Paths.get(dir, "_upsert_journal"),
      Map("touched" -> victim.toString, "empty" -> victim.toString))

    // next upsert call recovers FIRST: ghost ids gone before any read
    // (had the merged view read the ghost dir, the members — never
    // deleted in THIS upsert — would survive into the rewrite)
    Similarity.ivfUpsert(Seq((9999L, data(0)._2)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_upsert_journal")))
    val rows = spark.read.parquet(assignedDir)
      .select("id", "bucket").as[(Long, Long)].collect()
    val ids = rows.map(_._1).toSet
    assert(members.forall(!ids.contains(_)), s"ghost rows survived: $rows")
    assert(ids.contains(9999L))
    // the stale dir itself is gone unless the NEW row legitimately
    // re-created that bucket
    if (java.nio.file.Files.exists(bucketPath))
      assert(rows.filter(_._2 == victim).map(_._1).toSeq == Seq(9999L))
  }

  test("k-means refinement is deterministic: identical centroids at any input partitioning") {
    val data = vecs(90, 6)
    val dirA = tmpDir("ivf-det-a"); val dirB = tmpDir("ivf-det-b")
    Similarity.ivfBuild(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dirA, numCentroids = 5, kmeansIters = 2)
    Similarity.ivfBuild(data.toDF("vec_id", "embedding").repartition(13),
      "vec_id", "embedding", dirB, numCentroids = 5, kmeansIters = 2)
    def cents(d: String) = spark.read.parquet(Similarity.ivfCentroidsDir(d))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(cents(dirA) == cents(dirB)) // bit-exact float equality
  }

  test("sampled k-means training (the 100 TB path): deterministic, differs from the raw sample, serves") {
    val data = vecs(90, 6)
    val dirA = tmpDir("ivf-lim-a"); val dirB = tmpDir("ivf-lim-b")
    val dir0 = tmpDir("ivf-lim-0")
    Similarity.ivfBuild(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dirA, numCentroids = 5, kmeansIters = 2,
      kmeansTrainLimit = 30)
    Similarity.ivfBuild(data.toDF("vec_id", "embedding").repartition(11),
      "vec_id", "embedding", dirB, numCentroids = 5, kmeansIters = 2,
      kmeansTrainLimit = 30)
    Similarity.ivfBuild(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir0, numCentroids = 5, kmeansIters = 0)
    def cents(d: String) = spark.read.parquet(Similarity.ivfCentroidsDir(d))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(cents(dirA) == cents(dirB))        // deterministic at any partitioning
    assert(cents(dirA).map(_._2) != cents(dir0).map(_._2)) // refinement happened
    val q = data(17)._2.toArray
    val got = Similarity.ivfQuery(spark, dirA, q, 3, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(got.head._1 == 17L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  test("degenerate vectors fail the build fast instead of vanishing into a null bucket") {
    val data = vecs(20, 4) :+ (999L, Seq(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector
    val err = intercept[Exception] {
      Similarity.ivfBuild(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tmpDir("ivf-degen"), numCentroids = 4)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("degenerate")), s"got: ${messages(err)}")
  }

  test("ArgMaxCosExpr null semantics: dimension mismatch and null input") {
    val cents = Array(Array(1.0f, 0.0f, 0.0f))
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f))),            // dim mismatch → null
      (2L, None: Option[Seq[Float]]),          // null input → null
      (3L, Some(Seq(0.5f, 0.1f, 0.2f)))        // fine
    ).toDF("id", "v")
    val got = df.select($"id", ArgMaxCosExpr($"v", cents).as("am"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, None), (2L, None), (3L, Some(0))))
  }
}
