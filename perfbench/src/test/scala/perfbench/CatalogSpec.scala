package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the harness reports, and every
  * name and unit is well formed. */
class CatalogSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats
  private val spec = parse(new String(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
  private val Name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val Unit = "[A-Za-z0-9_/%.-]{1,16}".r

  private def metrics(key: String): Seq[(String, String)] =
    (spec \ key).extract[Seq[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)

  test("per-layer metrics match the harness catalog, in order") {
    assert(metrics("per_layer") == Layers.catalog)
    assert(Layers.catalog.size <= 128)
  }

  test("metric and workload names are valid and unique") {
    val names = metrics("end_to_end").map(_._1) ++ metrics("per_layer").map(_._1)
    names.foreach(n => assert(Name.matches(n), n))
    assert(names.distinct.size == names.size)
    (metrics("end_to_end") ++ metrics("per_layer")).foreach { case (n, u) =>
      assert(Unit.matches(u), s"$n: $u")
    }
    val workloads = (spec \ "workloads").extract[Seq[Map[String, Any]]].map(_("name").toString)
    assert(workloads == Workloads.all.map(_.name))
    workloads.foreach(n => assert(Name.matches(n), n))
  }

  test("every span a workload opens is in the catalog") {
    val named = Layers.Spans.toSet
    Seq("preprocessing.min_count_filter", "models.item_knn.refit", "metrics.compute",
      "core.write_compacted.packed", "text.minhash_dedup")
      .foreach(s => assert(named(s), s))
    Layers.FullCounterSpans.foreach(s => assert(named(s), s))
  }
}
