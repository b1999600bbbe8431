package graft.query

import graft.SparkFunSuite
import graft.index.{BuildConfig, IndexBuilder}
import graft.sources.SyntheticTranscripts

/** The serving session honours the caller's runtime SQL conf, with
  * adaptive execution the one override. */
class ServeSessionSpec extends SparkFunSuite {
  test("serve session copies every modifiable conf of the caller and turns AQE off") {
    val dir = tmpDir("idx-serve-session")
    IndexBuilder.build(spark, SyntheticTranscripts.generate(spark, 42L, nConvs = 20),
      BuildConfig(dir, nSegments = 2))
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val rdr = new IndexReader(spark, dir)
      assert(rdr.serveSession.conf.get(key) == "true")
      assert(rdr.serveSession.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(rdr.search("user", 5).nonEmpty)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
