package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Dedup.nearDupComponents]] against a union-find oracle over
  * generated pair graphs (fixed seeds): chains of up to 40 hops, so
  * several rounds run, stars and triangles, with self-loops, duplicate
  * and reversed edges and null ids mixed in. A pure-Scala model of the
  * rounds (min over neighbours, then one pointer jump) gives the round
  * count, which pins the `maxIter` bound and the job budget. */
class ComponentsPropertySpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  type Pair = (Option[Long], Option[Long])

  /** A path over `ids` in the given order. */
  private def path(ids: Seq[Long]): Seq[Pair] =
    ids.zip(ids.drop(1)).map { case (a, b) => (Some(a), Some(b)) }

  /** One component's edges: a chain of up to 40 hops, a star or a
    * triangle, over ids drawn from a shuffled block so the smallest id
    * sits anywhere in it. */
  private def component(base: Long): Gen[Seq[Pair]] = for {
    kind <- Gen.oneOf("chain", "star", "triangle")
    n <- kind match {
      case "chain" => Gen.choose(1, 40)
      case "star" => Gen.choose(2, 12)
      case _ => Gen.const(2)
    }
    picked <- Gen.pick(n + 1, base until base + 3L * (n + 1))
    shuffle <- Gen.long
    ids = new scala.util.Random(shuffle).shuffle(picked.toSeq)
  } yield kind match {
    case "chain" => path(ids)
    case "star" => ids.tail.map(v => (Some(ids.head), Some(v)))
    case _ => path(ids) :+ ((Some(ids.last), Some(ids.head)))
  }

  /** Components in disjoint id blocks, plus noise: self-loops, reversed
    * and duplicated edges, and pairs with one or two null ids. */
  private val graph: Gen[Seq[Pair]] = for {
    nComp <- Gen.choose(1, 6)
    comps <- Gen.sequence[List[Seq[Pair]], Seq[Pair]]((0 until nComp).map(c => component(1000L * c)))
    edges = comps.flatten
    nNoise <- Gen.choose(0, 10)
    noise <- Gen.listOfN(nNoise, Gen.oneOf(
      Gen.oneOf(edges).map { case (a, _) => (a, a) },
      Gen.oneOf(edges).map(_.swap),
      Gen.oneOf(edges),
      Gen.oneOf(edges).map { case (a, _) => (a, None) },
      Gen.oneOf(edges).map { case (_, b) => (None, b) },
      Gen.const((None, None): Pair),
      Gen.choose(50000L, 50010L).map(v => (Some(v), None): Pair)))
  } yield edges ++ noise

  private lazy val graphs: Seq[Seq[Pair]] =
    (0 until 24).flatMap(i => graph.apply(Gen.Parameters.default, Seed(31L + i)))

  /** Union-find: every non-null id with the least id of its component.
    * A pair with a null id adds its other id as a vertex, no edge. */
  private def oracle(pairs: Seq[Pair]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    pairs.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      case (a, b) => (a ++ b).foreach(find)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Rounds the operator runs to converge: the same min-label step and
    * pointer jump, in memory. */
  private def rounds(pairs: Seq[Pair]): Int = {
    val adj = pairs.flatMap {
      case (Some(a), Some(b)) => Seq(a -> b, b -> a, a -> a, b -> b)
      case (a, b) => (a ++ b).map(v => v -> v)
    }.groupMap(_._1)(_._2)
    var label = adj.keys.map(v => v -> v).toMap
    var n = 0
    var changed = true
    while (changed) {
      val stepped = adj.map { case (v, ns) => v -> ns.map(label).min }
      val jumped = stepped.map { case (v, l) => v -> stepped(l) }
      changed = jumped.exists { case (v, l) => l < label(v) }
      label = jumped
      n += 1
    }
    n
  }

  private def pairsDf(pairs: Seq[Pair], parallelism: Int): DataFrame =
    pairs.toDF("id_a", "id_b").repartition(parallelism)

  private def run(df: DataFrame, maxIter: Int = 25): Map[Long, Long] = {
    val rows = Dedup.nearDupComponents(df, maxIter = maxIter).as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.toMap
  }

  test("components equal union-find at input parallelism 1 and 7") {
    assert(graphs.map(rounds).max >= 4)
    graphs.foreach { g =>
      val want = oracle(g)
      assert(run(pairsDf(g, 1)) == want, g)
      assert(run(pairsDf(g, 7)) == want, g)
    }
  }

  test("a maxIter below the round count throws; the round count itself converges") {
    graphs.filter(rounds(_) > 1).take(5).foreach { g =>
      val r = rounds(g)
      assert(run(pairsDf(g, 3), maxIter = r) == oracle(g), g)
      intercept[IllegalArgumentException](run(pairsDf(g, 3), maxIter = r - 1))
    }
  }

  test("each round is at most 2 Spark jobs, result included") {
    val g = graphs.maxBy(rounds)
    val r = rounds(g)
    assert(r >= 4)
    val df = pairsDf(g, 4).localCheckpoint()
    val sc = spark.sparkContext
    val group = s"components-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.add(e.jobId)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "components")
      try assert(run(df, maxIter = r) == oracle(g)) finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
    } finally sc.removeSparkListener(l)
    assert(jobs.size >= 1 && jobs.size <= 2 * r, s"${jobs.asScala.toSeq} over $r rounds")
  }
}
