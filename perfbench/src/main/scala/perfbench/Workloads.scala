package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.Tables
import graft.core.Ops
import graft.metrics.Metrics
import graft.models.{ItemKNN, PopRec}
import graft.preprocessing.{LabelEncoder, MinCountFilter, SequenceGenerator, SequenceTokenizer, Sessionizer}
import graft.scenarios.TwoStagesScenario
import graft.splitters.TimeSplitter
import graft.text.{Dedup, Packing}

/** What one pass leaves behind: per-operation times, output digests,
  * check failures, ratios, and the frames it cached (dropped at pass end).
  *
  * Digests and invariant checks run after the timed part of every pass;
  * digests registered with `everyPass = false` and the law run on a run's
  * last pass only. */
final class PassResult(val tracer: Tracer) {
  /** (span name, kind, seconds) of every operation, in call order. */
  val ops = mutable.ArrayBuffer.empty[(String, String, Double)]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val ratios = mutable.LinkedHashMap.empty[String, Double]
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private val checkpoints = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  /** Digests (with whether they run on every pass) and checks. */
  val digesters = mutable.ArrayBuffer.empty[(String, Boolean, () => String)]
  val checks = mutable.ArrayBuffer.empty[(String, () => Seq[String])]
  /** The once-per-run law check. */
  var law: Option[() => Seq[String]] = None

  /** Times one call into a module. An exception is recorded as a failed
    * operation and rethrown, which ends the pass. */
  def op[T](name: String, kind: String)(body: => T): T =
    try tracer.span(name)(body)
    catch {
      case e: Exception =>
        failures += name -> s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    } finally {
      val s = tracer.lastSpan
      ops += ((name, kind, s.dur / 1e9))
      System.err.println(f"[perfbench] pass ${s.pass} $name ${s.dur / 1e9}%.3f s")
    }

  /** Caches `df` as a pass output and forces it inside the current span;
    * returns it with its row count. */
  def forceCounted(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    kept += c
    val n = c.count()
    tracer.setRows(n)
    (c, n)
  }

  def force(df: DataFrame): DataFrame = forceCounted(df)._1

  /** `df`'s rows as a fresh frame with a one-node plan (a local
    * checkpoint), released with the pass's outputs. */
  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val c = df.localCheckpoint()
    checkpoints ++= sc.getPersistentRDDs.collect { case (id, rdd) if !before(id) => rdd }
    c
  }

  def digest(name: String, everyPass: Boolean = true)(body: => String): Unit =
    digesters += ((name, everyPass, () => body))
  def check(name: String)(body: => Seq[String]): Unit = checks += name -> (() => body)

  /** Digest and top-k invariants of a recommendation output, from one
    * collect; `extra` adds checks on the same rows. */
  def recs(name: String, df: DataFrame, k: Int)(
      extra: Seq[Checks.Rec] => Seq[String] = _ => Nil): Unit = {
    lazy val rows = Checks.collectRecs(df)
    digest(name)(Checks.recsDigest(rows))
    check(name)(Checks.topK(rows, k) ++ extra(rows))
  }

  def dropOutputs(): Unit = {
    kept.foreach(_.unpersist())
    kept.clear()
    checkpoints.foreach(_.unpersist())
    checkpoints.clear()
  }
}

/** One benchmark workload: a sampled input and one pass over it. */
trait Workload {
  def name: String
  /** Parquet files the pass reads (written by `gen.py`). */
  def files: Seq[String]
  def pass(spark: SparkSession, dir: String, out: String, r: PassResult): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(OfflineEval, TrainingData)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))
}

/** RePlay's core experiment on the neighbour family: filter → time split
  * → ItemKNN fit and top-10 predict for the test users → incremental
  * refit folding in the test window's new users, and re-predict → ranking
  * metrics; then a trimmed two-stage scenario (PopRec candidates, enrich,
  * GBT rerank) fitted and predicted on the train window. */
object OfflineEval extends Workload {
  val name = "offline_eval"
  val files = Seq("lineitem", "orders")
  val K = 10
  /** k of the two-stage scenario. The scenario is trimmed to fit the
    * run budget: PopRec candidates without a fallback (the `two_stages`
    * gate ranks ItemKNN candidates with a PopRec fallback: 2.5 times the
    * time) and a GBT reranker of 2 trees of depth 3 (the gate: 10 of 5). */
  val StageK = 5

  def pass(spark: SparkSession, dir: String, out: String, r: PassResult): Unit = {
    val (log, nLog) = r.op("tables.interactions", "load") {
      val l = Tables.interactions(spark, dir)
      val n = l.count()
      r.tracer.setRows(n)
      (l, n)
    }
    val (filtered, nFiltered) = r.op("preprocessing.min_count_filter", "prep") {
      r.forceCounted(MinCountFilter(5).transform(log))
    }
    val marked = r.op("splitters.time_split", "split") {
      r.force(TimeSplitter.byQuantile(filtered, 0.8))
    }
    val train = marked.filter(!F.col("is_test")).drop("is_test")
    val test = marked.filter(F.col("is_test")).drop("is_test")
    val testUsers = test.select("query_id").distinct()
    val gt = test.select("query_id", "item_id").distinct()

    val knn = new ItemKNN(numNeighbours = 10)
    r.op("models.item_knn.fit", "fit")(knn.fit(train))
    // the sufficient statistics of the train window, which an incremental
    // deployment keeps from its last fit
    val trainStats = r.op("models.item_knn.co_stats", "fit") {
      val (pairs, dfs) = knn.coStats(train)
      (r.force(pairs), r.force(dfs))
    }
    val recs = r.op("models.item_knn.predict", "predict") {
      r.force(knn.predict(train, K, queries = Some(testUsers)))
    }
    r.recs("models.item_knn.predict", recs, K)()

    // fold the test window's new users into the train-time ItemKNN stats;
    // the co-stats of user-disjoint slices merge exactly
    val newSlice = test.join(train.select("query_id").distinct(), Seq("query_id"), "left_anti")
    val grown = train.unionByName(newSlice)
    val (refit, refitRecs) = r.op("models.item_knn.refit", "refit") {
      val m = new ItemKNN(numNeighbours = 10)
      val (pairs, dfs) = ItemKNN.mergeStats(trainStats, m.coStats(newSlice))
      m.fitFromStats(pairs, dfs)
      (m, r.force(m.predict(grown, K, queries = Some(testUsers))))
    }
    r.recs("models.item_knn.refit", refitRecs, K)()
    r.law = Some(() => {
      val newUsers = newSlice.select("query_id").distinct().count()
      val incremental = Checks.digest(refit.similarity)
      val full = Checks.digest(new ItemKNN(numNeighbours = 10).fit(grown).similarity)
      (if (newUsers > 0) Nil else Seq("the test window has no new users to fold in")) ++
        (if (incremental == full) Nil
        else Seq(s"incremental refit similarity $incremental != full fit on train + new users $full"))
    })

    val row = r.op("metrics.compute", "evaluate") {
      Metrics.compute(recs, gt, Metrics.RankingMetrics, Seq(K)).first()
    }
    r.digest("metrics.compute")(Checks.metricValues(row))
    r.check("metrics.compute") {
      (0 until row.size).collect {
        case i if row.isNullAt(i) || !(row.getDouble(i) >= 0.0 && row.getDouble(i) <= 1.0) =>
          s"${row.schema.fieldNames(i)} = ${row.get(i)} is outside [0, 1]"
      }
    }

    // the scenario gets the train window as a fresh frame: over the split's
    // lineage of nested cached relations the explain strings of its plans
    // outgrew a 2 GB heap (with ItemKNN candidates)
    val stageLog = r.checkpoint(train)
    val stages = new TwoStagesScenario(Seq(new PopRec()), fallbackModel = None,
      numNegatives = 20, gbtMaxIter = 2, gbtMaxDepth = 3)
    r.op("scenarios.two_stages.fit", "fit")(stages.fit(stageLog))
    val staged = r.op("scenarios.two_stages.predict", "predict") {
      r.force(stages.predict(stageLog, StageK))
    }
    r.digest("scenarios.two_stages.candidates", everyPass = false) {
      Checks.digest(stages.candidatesWithFallback(stages.firstLevelModels.head, stageLog,
        stages.numNegatives, stageLog))
    }
    r.recs("scenarios.two_stages.predict", staged, StageK) { rows =>
      val users = stageLog.select("query_id").distinct().collect().map(_.getLong(0)).toSet
      Checks.twoStagesCertificate(rows, users, stages.trainAuc)
    }
    r.ratios("preprocessing.min_count_filter.kept_ratio") = nFiltered.toDouble / nLog
  }
}

/** Single-pass training-data export: encoded padded sequences and
  * next-item windows from the uncached log, sessions from `events`,
  * deduplicated and packed `documents`, each written compacted. */
object TrainingData extends Workload {
  val name = "training_data"
  val files = Seq("documents", "events", "lineitem", "orders")

  def pass(spark: SparkSession, dir: String, out: String, r: PassResult): Unit = {
    def write(df: DataFrame, output: String): Unit =
      r.op(s"core.write_compacted.$output", "write") {
        Ops.writeCompacted(df, s"$out/$output")
        r.digest(s"core.write_compacted.$output")(Checks.digest(spark.read.parquet(s"$out/$output")))
      }

    val log = r.op("tables.interactions", "load")(Tables.interactions(spark, dir, cache = false))
    val enc = r.op("preprocessing.label_encode.fit", "fit") {
      val e = LabelEncoder.fit(log, "item_id")
      r.tracer.setRows(e.mapping.count())
      e
    }
    val encoded = r.op("preprocessing.label_encode.transform", "predict")(r.force(enc.transform(log)))
    r.op("preprocessing.sequence_pad", "prep") {
      write(SequenceTokenizer.pad(encoded, maxLen = 8), "sequences_padded")
    }
    r.op("preprocessing.sequence_generate", "prep") {
      write(SequenceGenerator.transform(encoded, groupBy = Seq("query_id"),
        orderBy = Seq("timestamp", "session_id", "item_id", "rating"),
        transformColumns = Seq("item_id"), lenWindow = 5), "sequences")
    }
    r.check("preprocessing.sequence_pad") {
      val bad = spark.read.parquet(s"$out/sequences_padded")
        .filter(F.size(F.col("items")) =!= 8 || F.col("length") > 8 || F.col("length") < 1).count()
      if (bad == 0) Nil else Seq(s"$bad padded sequences are not 8 long with 1..8 events")
    }

    val events = r.op("tables.events", "load")(Tables.events(spark, dir, cache = false))
    r.op("preprocessing.sessionize", "prep") {
      write(Sessionizer(1800L, userCol = "user_id", tsCol = "ts", tieCol = Some("event_id"))
        .transform(events), "sessions")
    }

    val docs = r.op("tables.documents", "load")(Tables.documents(spark, dir, cache = false))
    val (kept, nKept) = r.op("text.minhash_dedup", "text") {
      val exact = Dedup.exactDuplicates(docs, "doc_id", "text")
      val unique = docs.join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
      val cand = Dedup.minhashCandidates(unique, "doc_id", "text", numPerms = 16, bandSize = 4)
      r.forceCounted(Dedup.keepClusterRepresentatives(unique, "doc_id",
        Dedup.connectedComponents(cand)))
    }
    r.op("text.pack_chunks", "text") {
      write(Packing.packChunks(kept, "doc_id", "text", chunkTokens = 256), "packed")
    }
    r.check("text.pack_chunks") {
      val bad = spark.read.parquet(s"$out/packed")
        .filter(F.col("slice_len") <= 0 || F.col("slice_len") > 256).count()
      if (bad == 0) Nil else Seq(s"$bad packed slices outside (0, 256] tokens")
    }
    r.check("ratios") {
      r.ratios("text.minhash_dedup.kept_ratio") = nKept.toDouble / docs.count()
      Nil
    }
  }
}
