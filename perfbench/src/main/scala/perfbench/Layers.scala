package perfbench

/** The per-layer metric catalog and its computation from a traced run.
  *
  * Every span is named `<module>.<op>`. Each span reports `wall_s`; the
  * spans an optimisation of a fit, predict, scenario or sequence step is
  * most likely to move also report the full counter set. Counters are
  * inclusive of child spans, like `wall_s`; `self_s` is not. `exchanges`
  * counts shuffle map stages that ran, `cached_relations` the in-memory
  * relation scans in the executed plans. A value is the
  * median over the run's traced warm passes of the per-pass sum (the max
  * for `cached_mb`).
  */
object Layers {
  val Spans: Seq[String] = Seq(
    "core.session_build",
    "tables.interactions", "tables.events", "tables.documents",
    "preprocessing.min_count_filter", "preprocessing.label_encode.fit",
    "preprocessing.label_encode.transform", "preprocessing.sequence_pad",
    "preprocessing.sequence_generate", "preprocessing.sessionize",
    "splitters.time_split",
    "models.item_knn.fit", "models.item_knn.co_stats", "models.item_knn.predict",
    "models.item_knn.refit", "scenarios.two_stages.fit", "scenarios.two_stages.predict",
    "metrics.compute",
    "text.minhash_dedup", "text.pack_chunks",
    "core.write_compacted.sequences_padded", "core.write_compacted.sequences",
    "core.write_compacted.sessions", "core.write_compacted.packed",
  )

  val FullCounterSpans: Seq[String] = Seq(
    "models.item_knn.fit", "models.item_knn.predict", "models.item_knn.refit",
    "scenarios.two_stages.fit", "scenarios.two_stages.predict",
    "metrics.compute", "preprocessing.sequence_pad", "preprocessing.sequence_generate",
    "text.minhash_dedup",
  )

  val Counters: Seq[(String, String)] = Seq(
    "self_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "queue_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "exchanges" -> "count",
    "cached_relations" -> "count", "cached_mb" -> "MB", "rows_out" -> "count")

  val Ratios: Seq[String] = Seq(
    "preprocessing.min_count_filter.kept_ratio", "text.minhash_dedup.kept_ratio")

  /** (name, unit) of every per-layer metric, in report order. */
  val catalog: Seq[(String, String)] =
    Seq("pass.wall_s" -> "s", "pass.self_s" -> "s", "pass.first_wall_s" -> "s",
      "trace.overhead_s" -> "s") ++
      Spans.map(s => s"$s.wall_s" -> "s") ++
      FullCounterSpans.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
      Ratios.map(_ -> "ratio") ++
      Seq("cache.persisted_after_pass" -> "count", "cache.peak_mb" -> "MB")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val MB = 1024.0 * 1024.0

  /** Per-layer metrics of a traced run. `tracedPasses` are the warm passes
    * run with tracing on, `untracedWall` the wall times of the warm passes
    * of the same run with tracing paused. */
  def compute(t: Tracer, tracedPasses: Seq[Int], untracedWall: Seq[Double],
      ratios: Map[String, Double], persisted: Seq[Double]): Seq[(String, Double)] = {
    t.drain()
    val spans = t.allSpans
    val self = Span.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def counter(id: Int): Option[SpanCounters] = Option(t.counters.get(id))
    def inclusive(id: Int)(f: Int => Double): Double = subtree(id).map(f).sum

    def values(s: Span): Map[String, Double] = {
      Map(
        "wall_s" -> s.dur / 1e9,
        "self_s" -> self(s.id) / 1e9,
        "cpu_s" -> inclusive(s.id)(i => counter(i).map(_.cpuNs.get / 1e9).getOrElse(0.0)),
        "gc_s" -> t.gcOf(s.id) / 1e9,
        "queue_s" -> inclusive(s.id)(i => counter(i).map(_.queueMs.get / 1e3).getOrElse(0.0)),
        "shuffle_mb" -> inclusive(s.id)(i => counter(i).map(_.shuffleBytes.get / MB).getOrElse(0.0)),
        "spill_mb" -> inclusive(s.id)(i => counter(i).map(_.spillBytes.get / MB).getOrElse(0.0)),
        "exchanges" -> inclusive(s.id)(i => counter(i).map(_.exchanges.get.toDouble).getOrElse(0.0)),
        "cached_relations" -> inclusive(s.id)(i => t.cachedScans(i).toDouble),
        "cached_mb" -> t.cachedOf(s.id) / MB,
        "rows_out" -> inclusive(s.id)(i => t.rowsOf(i).map(_.toDouble).getOrElse(0.0)))
    }

    // per pass: name -> counter -> value (summed over repeated calls)
    val perPass: Seq[Map[String, Map[String, Double]]] = tracedPasses.map { p =>
      spans.filter(_.pass == p).groupBy(_.name).map { case (n, ss) =>
        val vs = ss.map(values)
        n -> vs.head.keys.map { c =>
          c -> (if (c == "cached_mb") vs.map(_(c)).max else vs.map(_(c)).sum)
        }.toMap
      }
    }
    def med(span: String, c: String): Double =
      median(perPass.map(_.get(span).flatMap(_.get(c)).getOrElse(0.0)))

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    catalog.foreach { case (name, _) =>
      out(name) = name match {
        case "pass.wall_s" => med("pass", "wall_s")
        case "pass.self_s" => med("pass", "self_s")
        case "pass.first_wall_s" =>
          spans.find(s => s.name == "pass" && s.pass == 1).map(_.dur / 1e9).getOrElse(0.0)
        case "trace.overhead_s" => med("pass", "wall_s") - median(untracedWall)
        case "core.session_build.wall_s" =>
          spans.find(_.name == "core.session_build").map(_.dur / 1e9).getOrElse(0.0)
        case "cache.persisted_after_pass" => median(persisted)
        case "cache.peak_mb" =>
          val ids = spans.filter(s => tracedPasses.contains(s.pass)).map(_.id)
          (0.0 +: ids.map(t.cachedOf(_) / MB)).max
        case r if Ratios.contains(r) => ratios.getOrElse(r, 0.0)
        case _ =>
          val cut = name.lastIndexOf('.')
          med(name.substring(0, cut), name.substring(cut + 1))
      }
    }
    out.toSeq
  }
}
