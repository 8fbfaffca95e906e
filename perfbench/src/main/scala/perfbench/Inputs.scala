package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded workload inputs. The seed reaches only these generators; the
  * engine sees the rows and strings they produce. Every generator is a
  * pure function of (seed, [[Sources]]), so the same seed yields
  * byte-identical files ([[canonical]]).
  */
object Inputs {

  /** What the generators draw from, read from the fixture once (the only
    * Spark jobs the harness runs before the workload): the interactions
    * fact in primary-key order, the part keys, and the observed
    * frequencies the event tape follows — orders per customer, lines per
    * part, events per `events.event_type`. Keys and weights are sorted
    * by key, so the draws do not depend on read order.
    */
  final case class Sources(base: Array[Row], schema: org.apache.spark.sql.types.StructType,
      parts: Array[Long], users: Weighted, items: Weighted, actions: Weighted)

  /** Values with their observed counts; [[draw]] samples in proportion. */
  final case class Weighted(values: Array[String], counts: Array[Long]) {
    private val cdf = {
      val tot = counts.sum.toDouble
      counts.scanLeft(0L)(_ + _).tail.map(_ / tot)
    }
    def draw(rnd: java.util.Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      values(math.min(if (i >= 0) i else -i - 1, values.length - 1))
    }
  }

  def sources(spark: SparkSession, fixture: String): Sources = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, fixture)
    def counts(keys: Seq[String]): Weighted = {
      val kc = keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toArray.sortBy(_._1)
      Weighted(kc.map(_._1), kc.map(_._2))
    }
    def column(df: DataFrame, key: String) = df.select(col(key).cast("string")).as[String].collect()
    val base = li.orderBy(LineitemPk.map(col): _*).collect()
    val iPart = li.schema.fieldIndex("l_partkey")
    Sources(
      base = base,
      schema = li.schema,
      parts = graft.Tables.part(spark, fixture).select("p_partkey")
        .orderBy("p_partkey").as[Long].collect(),
      users = counts(column(graft.Tables.orders(spark, fixture), "o_custkey")),
      items = counts(base.map(_.getLong(iPart).toString)),
      actions = counts(column(graft.Tables.events(spark, fixture), "event_type")))
  }

  /** Retrain input: an ingest delta against the fixture's `lineitem`
    * (the interactions fact). `fresh` rows are new lines on existing
    * orders; `redelivered` rows repeat existing primary keys with
    * `l_quantity` shifted by [[RedeliveryMark]], so a first-writer-wins
    * ingest must drop every one of them.
    */
  final case class Delta(rows: Seq[Row], fresh: Int, redelivered: Int)

  val RedeliveryMark = 1000.0
  val LineitemPk = Seq("l_orderkey", "l_linenumber")

  def ingestDelta(src: Sources, seed: Long): Delta = {
    val base = src.base
    val parts = src.parts
    val rnd = new java.util.Random(seed)
    val nFresh = math.max(1, base.length / 20)
    val nRe = math.max(1, base.length / 50)
    val iOrder = src.schema.fieldIndex("l_orderkey")
    val iLine = src.schema.fieldIndex("l_linenumber")
    val iPart = src.schema.fieldIndex("l_partkey")
    val iQty = src.schema.fieldIndex("l_quantity")
    val lineUsed = scala.collection.mutable.Map.empty[Long, Int]
    val fresh = (0 until nFresh).map { _ =>
      val t = base(rnd.nextInt(base.length))
      val order = t.getLong(iOrder)
      // TPC-H orders hold at most 7 lines; new lines number from 8 up
      val line = lineUsed.getOrElse(order, 7) + 1
      lineUsed(order) = line
      val v = t.toSeq.toArray
      v(iLine) = line
      v(iPart) = parts(rnd.nextInt(parts.length))
      v(iQty) = (1 + rnd.nextInt(50)).toDouble
      Row.fromSeq(v.toSeq)
    }
    val redelivered = rnd.ints(0, base.length).distinct().limit(nRe.toLong).toArray.toSeq
      .map { i =>
        val v = base(i).toSeq.toArray
        v(iQty) = base(i).getDouble(iQty) + RedeliveryMark
        Row.fromSeq(v.toSeq)
      }
    // interleave the two kinds the way a re-delivering feed would
    val mixed = (fresh ++ redelivered).map(r => (rnd.nextLong(), r)).sortBy(_._1).map(_._2)
    Delta(mixed, fresh.size, redelivered.size)
  }

  def deltaFrame(spark: SparkSession, src: Sources, d: Delta): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(d.rows: _*), src.schema)

  /** Stream input: JSON event strings as a producer would send them.
    * Each field follows the fixture: users are the ordering customers
    * (the KB history's users) drawn by their order counts, items are
    * parts drawn by their line counts in the interactions fact, actions
    * are drawn by their counts in `events.event_type` (the table the
    * stream scorer trains on). `malformedShare` of the strings are
    * broken in one of three ways (truncated, missing field, wrong type)
    * and must be dropped by the parser. `ts` advances 5 ms per event
    * (the live rate, 200 events/s).
    */
  final case class Tape(events: IndexedSeq[String], malformed: Set[Int])

  val EpochMs = 1704067200000L // 2024-01-01T00:00:00Z

  def eventTape(src: Sources, seed: Long, n: Int, malformedShare: Double = 0.01): Tape = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    val bad = Set.newBuilder[Int]
    val events = (0 until n).map { i =>
      val user = src.users.draw(rnd)
      val item = src.items.draw(rnd)
      val action = src.actions.draw(rnd)
      val ts = java.time.Instant.ofEpochMilli(EpochMs + i * 5L).toString
      if (rnd.nextDouble() < malformedShare) {
        bad += i
        rnd.nextInt(3) match {
          case 0 => s"""{"user":$user,"item":"$item","act"""
          case 1 => s"""{"item":"$item","action":"$action","ts":"$ts"}"""
          case _ => s"""{"user":"u$user","item":"$item","action":"$action","ts":"$ts"}"""
        }
      } else s"""{"user":$user,"item":"$item","action":"$action","ts":"$ts"}"""
    }
    Tape(events, bad.result())
  }

  /** The bytes the same-seed identity test compares. */
  def canonical(d: Delta): Array[Byte] =
    d.rows.map(_.toSeq.mkString(",")).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)

  def canonical(t: Tape): Array[Byte] =
    t.events.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
}
