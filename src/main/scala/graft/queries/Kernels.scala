package graft.queries

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-kernel registry: every session-keyed memo of a shared
  * intermediate is declared here exactly once, with its bench family,
  * its canonical payer (the catalog entry Bench runs first so it pays
  * the build), its key type and its release action.
  *
  * Memos key on the session as well as the key: a persisted DataFrame
  * is bound to the SparkContext that built it, so after
  * spark.stop()+rebuild in the same JVM a key without the session would
  * hand back a corpse. Values fill at CONSTRUCTION time (the query
  * bodies call the kernel while building their plan), so membership is
  * observable without executing anything.
  *
  * Each access is recorded per session as (family, built-or-hit) until
  * [[drainTouched]] reads it — the bench's shared-cache membership and
  * build attribution are measured from this record rather than declared
  * (hand-kept member lists drifted twice: q149 in round 9, q240 in
  * round 12). The record holds at most one entry per family per session.
  */
private[graft] object Kernels {

  final class Kernel[K, V] private[Kernels] (val family: String,
      val payer: Option[String], release: V => Unit) {
    private val memo =
      scala.collection.concurrent.TrieMap.empty[(SparkSession, K), V]

    /** The memoized value for (s, key), running `build` on first use. */
    def apply(s: SparkSession, key: K)(build: => V): V = {
      var built = false
      val v = memo.getOrElseUpdate((s, key), { built = true; build })
      touch(s, family, built)
      v
    }

    private[Kernels] def holds(s: SparkSession): Boolean =
      memo.keys.exists(_._1 eq s)

    private[Kernels] def clear(s: SparkSession): Unit =
      memo.keys.filter(_._1 eq s).foreach(k => memo.remove(k).foreach(release))
  }

  private var declared = Vector.empty[Kernel[_, _]]

  private def declare[K, V](family: String, payer: Option[String],
      release: V => Unit): Kernel[K, V] = {
    val k = new Kernel[K, V](family, payer, release)
    declared :+= k
    k
  }

  private def persisted(family: String, payer: String): Kernel[String, DataFrame] =
    declare[String, DataFrame](family, Some(payer), _.unpersist(blocking = true))

  private val q35 = "q35_ngram_jaccard_neardup"
  private val q165 = "q165_semantic_decontamination"

  // Declaration order is Bench's payer-first run order (q35, q40, q165,
  // q14) and the family order of its shared-cache JSON.
  val nearDupPairs = persisted("verified_pairs", q35)
  val lshScored = persisted("lsh_candidates", "q40_embedding_lsh_ann")
  val annBuckets = declare[String, (DataFrame, Int)]("ann_buckets", Some(q165),
    _._1.unpersist(blocking = true))
  val annCandidates = persisted("ann_buckets", q165)
  val shingleRows = persisted("shingle_rows", q35)
  val prefixRows = persisted("shingle_rows", q35)
  val minhashSigs = persisted("shingle_rows", q35)
  val bandCandidates = persisted("shingle_rows", q35)
  val coPairs = persisted("co_pairs", "q14_part_pairs")
  // trained models: no canonical payer, and nothing persisted to release
  // (catalog.clearCache sweeps the scored frame's anonymous .cache())
  val als = declare[String, ALSModel]("als_model", None, _ => ())
  val gbtScored = declare[(String, Boolean), DataFrame]("gbt_model", None, _ => ())
  val gbtModel =
    declare[(String, Boolean), GBTClassificationModel]("gbt_model", None, _ => ())

  def all: Seq[Kernel[_, _]] = declared

  /** Canonical payers in declaration order, each once. */
  def payers: Seq[String] = declared.flatMap(_.payer).distinct

  /** Families touched per session since the last drain: true when the
    * session BUILT some kernel of the family, false when it only hit.
    */
  private val touched =
    scala.collection.mutable.Map.empty[SparkSession, Map[String, Boolean]]

  private def touch(s: SparkSession, family: String, built: Boolean): Unit =
    touched.synchronized {
      val m = touched.getOrElse(s, Map.empty[String, Boolean])
      touched(s) = m.updated(family, built || m.getOrElse(family, false))
    }

  /** Reads and resets this session's touched families (family -> built). */
  def drainTouched(s: SparkSession): Map[String, Boolean] =
    touched.synchronized(touched.remove(s)).getOrElse(Map.empty)

  /** The kernels currently holding a value for this session. */
  def held(s: SparkSession): Seq[Kernel[_, _]] = declared.filter(_.holds(s))

  /** Releases every kernel value and the touched record of this session. */
  def clear(s: SparkSession): Unit = {
    declared.foreach(_.clear(s))
    touched.synchronized(touched.remove(s))
  }
}
