package graft

import graft.index.{BuildConfig, IndexBuilder}
import graft.query.IndexReader
import graft.sources.SyntheticTranscripts
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point (SURVEY.md §7.1):
 *
 *   graft.Main gen <outDir> [nConvs] [seed]     write a synthetic transcript corpus as parquet
 *   graft.Main build <outDir> [nConvs] [seed]   build index over a synthetic transcript corpus
 *   graft.Main build <outDir> corpus=<parquet>  build index over a transcript table
 *   graft.Main query <indexDir> <query...>      BM25 top-10 against a built index;
 *                                               Lucene syntax (plus, minus, quotes,
 *                                               tilde, caret, star, question) is parsed
 *   graft.Main serve <indexDir>                 serving-node REPL (LocalIndex, in-process WAND)
 *   graft.Main sim-build <embParquet> <outDir> [k] [kmeansIters] [trainLimit]   persisted IVF index
 *   graft.Main sim-query <idxDir> <embParquet> <id> [k] [nprobe]   probe it by row id
 *   graft.Main compact <indexDir>               fold incremental staging overlays into the base
 *   graft.Main entry [sfDir]                    flagship documents-corpus query (driver smoke)
 */
object Main {
  private def session(): SparkSession = {
    // under spark-submit the master (and tuned conf) arrive via system
    // properties — overriding them here would silently collapse a
    // multi-executor cluster back into the driver JVM
    val submitted = sys.props.get("spark.master").isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder().appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    if (!submitted) {
      b.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
        .config("spark.sql.shuffle.partitions", cpus)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: out :: rest =>
      // materialize a synthetic transcript corpus as a parquet table —
      // the realistic input shape (input_hint: an Iceberg table, not a
      // generator); builds then read it like any other source table
      val spark = session()
      val nConvs = rest.headOption.map(_.toLong).getOrElse(10000L)
      val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
      SyntheticTranscripts.generate(spark, seed, nConvs)
        .write.mode("overwrite").parquet(out)
      println(s"generated: $out nConvs=$nConvs seed=$seed")
      spark.stop()
    case "build" :: out :: rest =>
      val spark = session()
      import spark.implicits._
      val turns = rest match {
        case corpus :: _ if corpus.startsWith("corpus=") =>
          spark.read.parquet(corpus.stripPrefix("corpus=")).as[graft.model.Turn]
        case _ =>
          val nConvs = rest.headOption.map(_.toLong).getOrElse(10000L)
          val seed = rest.drop(1).headOption.map(_.toLong).getOrElse(42L)
          SyntheticTranscripts.generate(spark, seed, nConvs)
      }
      val nSeg = sys.env.get("GRAFT_NSEGMENTS").map(_.toInt)
      // partition-by-data knob: phase A's sort partitions default to
      // defaultParallelism, which is CLUSTER-sized — on a fixed-width
      // local box a 10x corpus means 10x rows per partition. A real
      // cluster gets this for free (more executors => more default
      // partitions); here the env var stands in for cluster growth
      val sortP = sys.env.get("GRAFT_SORT_PARTITIONS").map(_.toInt).getOrElse(0)
      val cfg = nSeg.fold(BuildConfig(out, sortPartitions = sortP))(n =>
        BuildConfig(out, nSegments = n, waveSize = n, sortPartitions = sortP))
      val rep = IndexBuilder.build(spark, turns, cfg)
      println(s"built: nDocs=${rep.nDocs} avgdl=${rep.avgdl} nTerms=${rep.nTerms} " +
        s"segments built=${rep.segmentsBuilt} skipped=${rep.segmentsSkipped} " +
        s"quarantined=${rep.segmentsQuarantined} wallMs=${rep.wallMs}")
      if (rep.segmentsQuarantined > 0)
        System.err.println(s"WARNING: ${rep.segmentsQuarantined} segment(s) " +
          "quarantined after repeated failures — the index is missing their documents")
      spark.stop()
    case "query" :: dir :: qs if qs.nonEmpty =>
      val spark = session()
      val q = qs.mkString(" ")
      val rdr = new IndexReader(spark, dir)
      // "lm: <terms>" serves the Dirichlet-LM similarity instead of
      // BM25; Lucene-operator characters route through the
      // query-string parser (+must -not "phrase"~slop term^boost
      // wild* fuzzy~1); plain words keep the ranked turn output
      if (q.startsWith("lm:")) {
        import org.apache.spark.sql.functions.col
        val hits = rdr.scoredDocsDirichlet(q.drop(3).trim)
          .orderBy(col("score").desc, col("doc_id").asc).limit(10)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        hits.foreach { case (id, s) => println(f"$s%12.6f  doc=$id") }
        if (hits.isEmpty) println("(no hits)")
      } else if (q.exists(c => "+-\"^~*?".indexOf(c.toInt) >= 0)) {
        val hits = rdr.searchParsed(q, 10)
        hits.foreach(h => println(f"${h.score}%12.6f  doc=${h.doc_id}"))
        if (hits.isEmpty) println("(no hits)")
      } else {
        val hits = rdr.searchRanked(q, 10)
        hits.foreach(h => println(f"${h.score}%12.6f  doc=${h.doc_id}%-8d ${h.conv_id}#${h.turn_idx}"))
        if (hits.isEmpty) println("(no hits)")
      }
      spark.stop()
    case "serve" :: dir :: Nil =>
      // serving-node mode: load once, answer queries from stdin
      // in-process (graft.query.LocalIndex) — one line per query,
      // top-10 as "score docId" pairs; EOF exits
      val spark = session()
      val t0 = System.nanoTime()
      val local = graft.query.LocalIndex.load(spark, dir)
      System.err.println(f"loaded ${local.nDocs} docs / ${local.nTerms} terms " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s; ready")
      // query shapes: plain line = free text; "p: <phrase>" = exact
      // phrase; "b: <must terms> ! <not terms>" = boolean AND/NOT;
      // "lm: <terms>" = Dirichlet-LM similarity
      scala.io.Source.stdin.getLines().foreach { line =>
        val q = line.trim
        if (q.nonEmpty) {
          val t1 = System.nanoTime()
          val hits =
            if (q.startsWith("p:")) local.searchPhrase(q.drop(2).trim, 10)
            else if (q.startsWith("lm:")) local.searchDirichlet(q.drop(3).trim, k = 10)
            else if (q.startsWith("b:")) {
              val parts = q.drop(2).split('!')
              local.searchBoolean(parts(0).trim,
                if (parts.length > 1) parts(1).trim else "", 10)
            } else local.search(q, 10)
          val ms = (System.nanoTime() - t1) / 1e6
          println(f"# '$q' ${hits.size} hits in $ms%.2f ms")
          hits.foreach(h => println(f"${h.score}%12.6f  ${h.doc_id}"))
        }
      }
      spark.stop()
    case "sim-build" :: emb :: out :: rest =>
      // persisted IVF index over an embeddings parquet (id, vector)
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(64)
      val iters = rest.drop(1).headOption.map(_.toInt).getOrElse(0)
      val trainLimit = rest.drop(2).headOption.map(_.toInt).getOrElse(0)
      val df = spark.read.parquet(emb)
      val Seq(idCol, vecCol) = df.columns.take(2).toSeq
      graft.operators.Similarity.ivfBuild(df, idCol, vecCol, out,
        numCentroids = k, kmeansIters = iters, kmeansTrainLimit = trainLimit)
      println(s"sim-built: $out centroids=$k kmeansIters=$iters trainLimit=$trainLimit")
      spark.stop()
    case "sim-query" :: idx :: emb :: qid :: rest =>
      // probe the persisted IVF index with the vector of row `qid`
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      val nprobe = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
      val df = spark.read.parquet(emb)
      val Seq(idCol, vecCol) = df.columns.take(2).toSeq
      val q = df.filter(org.apache.spark.sql.functions.col(idCol) === qid.toLong)
        .select(vecCol).head().getSeq[Float](0).toArray
      graft.operators.Similarity.ivfQuery(spark, idx, q, k, nprobe)
        .collect().foreach(r => println(f"${r.getDouble(1)}%12.8f  ${r.getLong(0)}"))
      spark.stop()
    case "compact" :: dir :: Nil =>
      // fold incremental staging overlays back into the base table
      val spark = session()
      val n = graft.index.Incremental.compact(spark, dir)
      println(s"compacted: $n overlay segment(s) folded into base staging")
      spark.stop()
    case "entry" :: rest =>
      val spark = session()
      val df = rest.headOption match {
        case Some(dir) => FtIndex.reader(spark, dir).searchDF(SparkEntry.FtQuery, 10)
        case None => SparkEntry.entry(spark)
      }
      df.show(20, truncate = false)
      spark.stop()
    case other =>
      System.err.println(s"usage: gen <outDir> [nConvs] [seed] | build <outDir> [nConvs [seed] | corpus=<parquet>] | " +
        s"query <indexDir> <query...> | serve <indexDir> | sim-build <embParquet> <outDir> [k] [kmeansIters] [trainLimit] | " +
        s"sim-query <idxDir> <embParquet> <id> [k] [nprobe] | compact <indexDir> | entry [sfDir]; got: $other")
      sys.exit(2)
  }
}
