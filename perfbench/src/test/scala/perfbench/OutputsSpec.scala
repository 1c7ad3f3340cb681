package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SparkSession, functions => F}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Session

/** Output digests reproduce on the smallest generated inputs for the dev
  * and the held-out seed, and a corrupted output is a failed check. */
class OutputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Session.build(master = "local[2]")
  private val work = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")), "outputs-spec").toString
  private val Seeds = Seq(1L, 2L)

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("ERROR")
  override def afterAll(): Unit = spark.stop()

  /** Writes the seed's inputs with `gen.py` at scale factor `sf`. */
  private def gen(w: Workload, seed: Long, sf: Double): String = {
    val dir = s"$work/${w.name}-$seed"
    val rc = scala.sys.process.Process(Seq("python3", "gen.py", "--workload", w.name,
      "--seed", seed.toString, "--sf", sf.toString, "--out", dir)).!
    assert(rc == 0, s"gen.py exited with $rc")
    dir
  }

  private def digests(w: Workload, seed: Long, sf: Double): Map[String, String] = {
    val dir = gen(w, seed, sf)
    (1 to 2).map { _ =>
      spark.catalog.clearCache()
      val r = new PassResult(new Tracer(traced = false))
      w.pass(spark, dir, s"$work/out-${w.name}-$seed", r)
      r.checks.foreach { case (n, c) => assert(c().isEmpty, n) }
      val d = r.digesters.map { case (n, _, f) => n -> f() }.toMap
      r.dropOutputs()
      d
    }.reduce { (a, b) => assert(a == b); a }
  }

  test("digests reproduce at sf 0.001 for both seeds, and the seeds differ") {
    Workloads.all.foreach { w =>
      val bySeed = Seeds.map(s => digests(w, s, 0.001))
      bySeed.foreach(d => assert(d.nonEmpty, w.name))
      assert(bySeed.distinct.size == Seeds.size, w.name)
    }
  }

  test("k + 1 recommendations for one query is a failed check") {
    val s = spark
    import s.implicits._
    val ok = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (2L, 10L, 0.7))
      .toDF("query_id", "item_id", "rating")
    val corrupted = ok.union(Seq((1L, 12L, 0.1)).toDF("query_id", "item_id", "rating"))
    assert(Checks.topK(Checks.collectRecs(ok), 2).isEmpty)
    assert(Checks.topK(Checks.collectRecs(corrupted), 2).exists(_.contains("recs > k=2")))

    val r = new PassResult(new Tracer(traced = false))
    r.recs("models.item_knn.predict", corrupted, 2)()
    r.checks.foreach { case (n, c) => c().foreach(m => r.failures += n -> m) }
    assert(r.failures.map(_._1) == Seq("models.item_knn.predict"))
  }

  test("the driver-side recommendation digest equals the Spark-side one") {
    val recs = spark.range(500).select((F.col("id") % 37).as("query_id"),
      (F.col("id") * 7919 - 100000).as("item_id"), (F.col("id") / 500.0).as("rating"))
    assert(Checks.recsDigest(Checks.collectRecs(recs)) ==
      Checks.digest(recs, Seq("query_id", "item_id")))
  }

  test("gen.py samples the users Spark's pmod(xxhash64(user, seed), 4) = 0 picks") {
    val orders = Seeds.map { seed =>
      val o = spark.read.parquet(s"${gen(OfflineEval, seed, 0.002)}/orders.parquet")
      val users = o.select("o_custkey").distinct()
      val outside = users.filter(F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(seed)), F.lit(4L)) =!= 0)
      assert(outside.count() == 0, s"seed $seed")
      users.collect().map(_.getLong(0)).toSet
    }
    assert(orders.forall(_.nonEmpty) && orders(0) != orders(1))
  }
}
