package perfbench

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Output digests and invariant checks. A check returns the list of its
  * violations; an empty list is a pass. */
object Checks {
  /** `rows:sum` where sum is Σ xxhash64 over `cols` (all columns when
    * empty), summed exactly as a decimal. Doubles hash by their bits, so
    * equal digests mean bit-equal rows (up to hash collisions). */
  def digest(df: DataFrame, cols: Seq[String] = Nil): String = {
    val cs = (if (cols.isEmpty) df.columns.toSeq else cols).map(F.col)
    val r = df.agg(F.count(F.lit(1)),
        F.sum(F.xxhash64(cs: _*).cast("decimal(38,0)")))
      .first()
    val sum = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$sum"
  }

  /** One recommendation collected to the driver; `rating` is None when null. */
  final case class Rec(query: Long, item: Long, rating: Option[Double])

  /** Collects a (small) recommendation frame in one Spark job. */
  def collectRecs(df: DataFrame): Seq[Rec] =
    df.select("query_id", "item_id", "rating").collect().toSeq.map(r =>
      Rec(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  /** [[digest]] over (query_id, item_id), computed on collected rows:
    * Spark's `xxhash64(a, b)` chains `XXH64.hashLong` from seed 42. */
  def recsDigest(recs: Seq[Rec]): String = {
    val sum = recs.map(r => BigInt(XXH64.hashLong(r.item, XXH64.hashLong(r.query, 42L)))).sum
    s"${recs.size}:$sum"
  }

  /** Top-k recommendation invariants: at most `k` rows per query, no
    * repeated (query, item), no null rating. */
  def topK(recs: Seq[Rec], k: Int): Seq[String] = {
    val most = if (recs.isEmpty) 0 else recs.groupBy(_.query).values.map(_.size).max
    val repeated = recs.size - recs.map(r => (r.query, r.item)).distinct.size
    val nulls = recs.count(_.rating.isEmpty)
    val out = Seq.newBuilder[String]
    if (most > k) out += s"a query has $most recs > k=$k"
    if (repeated > 0) out += s"$repeated repeated (query, item) recs"
    if (nulls > 0) out += s"$nulls null ratings"
    out.result()
  }

  /** The `two_stages` gate certificate beyond [[topK]]: some user is
    * served, ratings are probabilities, every served user is one of
    * `users`, and the reranker's training AUC clears 0.55 (a broken feature
    * pipeline cannot). */
  def twoStagesCertificate(recs: Seq[Rec], users: Set[Long], trainAuc: Double): Seq[String] = {
    val outside = recs.count(_.rating.exists(v => !(v >= 0.0 && v <= 1.0)))
    val unknown = recs.map(_.query).distinct.count(q => !users(q))
    val out = Seq.newBuilder[String]
    if (recs.isEmpty) out += "no user is served"
    if (outside > 0) out += s"$outside ratings outside [0, 1]"
    if (unknown > 0) out += s"$unknown served users are not in the log"
    if (!(trainAuc > 0.55)) out += s"reranker train AUC $trainAuc <= 0.55"
    out.result()
  }

  /** Ranking metric values rounded to 8 decimals (sums over partitions can
    * differ in the last ulp). */
  def metricValues(row: org.apache.spark.sql.Row): String =
    row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      val shown = if (v.isNaN) "nan"
        else BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_EVEN).toString
      s"$n=$shown"
    }.mkString(",")
}
