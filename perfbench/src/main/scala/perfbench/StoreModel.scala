package perfbench

import scala.collection.mutable

/** One statement of the `store_write` stream. `payload` is the bytes of
  * user data the statement asks the store to persist (keys, values and
  * numbers as 8-byte words, strings as their UTF-8 length).
  */
sealed trait Stmt { def write: Boolean; def kind: String; def payload: Long = 0L }
object Stmt {
  final case class Create(k: Long, v: String, n: Long) extends Stmt {
    val write = true; val kind = "create"; override def payload = 16L + v.length
  }
  final case class SetV(k: Long, v: String) extends Stmt {
    val write = true; val kind = "set"; override def payload = 8L + v.length
  }
  final case class Delete(k: Long) extends Stmt {
    val write = true; val kind = "delete"; override def payload = 8L
  }
  /** Bumps `n` on every live key in [lo, hi): the copy-on-write path. */
  final case class BigSet(lo: Long, hi: Long, touched: Int) extends Stmt {
    val write = true; val kind = "bigset"; override def payload = 16L * touched
  }
  final case class Merge(k: Long, v: String) extends Stmt {
    val write = true; val kind = "merge"; override def payload = 8L + v.length
  }
  final case class Upsert(batch: Long, rows: Seq[(Long, String)]) extends Stmt {
    val write = true; val kind = "upsert"
    override def payload = rows.map(r => 8L + r._2.length).sum
  }
  case object Compact extends Stmt { val write = true; val kind = "compact" }
  // reads carry the answer the model gives at their place in the stream
  final case class PointRead(k: Long, expect: Option[(Option[String], Option[Long])])
      extends Stmt { val write = false; val kind = "point_read" }
  final case class Aggregate(count: Long, sum: Long) extends Stmt {
    val write = false; val kind = "aggregate"
  }
  final case class FeedRead(k: Long, expect: Option[String]) extends Stmt {
    val write = false; val kind = "feed_read"
  }
  final case class EdgeRead(k: Long, expect: Long) extends Stmt {
    val write = false; val kind = "edge_read"
  }
}

/** The benchmark's own model of the durable graph: `Item` rows keyed by
  * `k` with a string `v` and a number `n` (both absent on rows a MERGE
  * created), `Feed` rows keyed by `k` with a string `t`, and a fixed
  * `FOLLOWS` edge set between Feed keys. Every store read and the final
  * store state are checked against it.
  */
final class StoreModel {
  import Stmt._

  val items = mutable.HashMap.empty[Long, (Option[String], Option[Long])]
  /** Live Item keys, ascending; rank 0 from the end is the newest key. */
  private val live = mutable.ArrayBuffer.empty[Long]
  val feed = mutable.HashMap.empty[Long, String]
  private val edgeCount = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private var nextKey = 0L
  private var nextBatch = 1L
  private var pass = 0

  def loadItem(k: Long, v: String, n: Long): Unit = {
    require(live.isEmpty || k > live.last, "items load in ascending key order")
    items(k) = (Some(v), Some(n)); live += k; nextKey = k + 1
  }
  def loadFeed(k: Long, t: String): Unit = feed(k) = t
  def loadEdge(src: Long): Unit = edgeCount(src) += 1

  def liveItems: Int = live.size
  def follows(k: Long): Long = edgeCount(k)

  /** Key at `rank` counted from the newest live key. */
  def recent(rank: Int): Long = live(live.size - 1 - math.min(rank, live.size - 1))

  def apply(s: Stmt): Unit = s match {
    case Create(k, v, n) =>
      require(k >= nextKey); items(k) = (Some(v), Some(n)); live += k; nextKey = k + 1
    case SetV(k, v) => items.get(k).foreach { case (_, n) => items(k) = (Some(v), n) }
    case Delete(k) =>
      if (items.remove(k).isDefined) live.remove(live.search(k).insertionPoint)
    case BigSet(lo, hi, _) =>
      items.foreach { case (k, (v, n)) => if (k >= lo && k < hi) items(k) = (v, n.map(_ + 1)) }
    case Merge(k, v) =>
      items.get(k) match {
        case Some((_, n)) => items(k) = (Some(v), n)
        case None =>
          require(k >= nextKey); items(k) = (Some(v), None); live += k; nextKey = k + 1
      }
    case Upsert(_, rows) => rows.foreach { case (k, t) => feed(k) = t }
    case _ => ()
  }

  /** Expected `(count(*), sum(n))` over Item. */
  def aggregate: (Long, Long) = (items.size.toLong, items.valuesIterator.flatMap(_._2).sum)

  /** Bytes of live user data: the payload measure of [[Stmt]] over the model. */
  def liveBytes: Long =
    items.valuesIterator.map { case (v, n) =>
      8L + v.map(_.length.toLong).getOrElse(0L) + n.map(_ => 8L).getOrElse(0L)
    }.sum + feed.valuesIterator.map(8L + _.length).sum + edgeCount.values.sum * 24L

  /** Rank from the newest key, skewed so recent keys are chosen most:
    * log-uniform over [1, n], the continuous Zipf(1) shape.
    */
  private def zipfRank(rng: java.util.Random, n: Int): Int =
    math.min(n - 1, (math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1).toInt)

  /** The next pass of statements, shuffled: 7 writes (two 1-row SETs, a
    * DELETE, a CREATE, a 3000-key SET, a MERGE, an upsert batch), 24 point
    * lookups and 2 full-label reads, with a COMPACT GRAPH after every
    * `compactEvery` statements. Key choices see the model as it stands
    * after the earlier statements. The fixed mix keeps the p50 of a pass
    * inside the lookups and its p90 inside the writes. The order of the
    * kinds depends on the pass number only, not on `rng`: which write
    * follows a compaction sets its cost, and a seed-dependent order spread
    * the p90 by a fifth from seed to seed.
    */
  def nextPass(rng: java.util.Random, feedKeys: Int, bigSetWidth: Int,
      compactEvery: Int): Seq[Stmt] = {
    pass += 1
    val kinds = new scala.util.Random(pass).shuffle(
      Seq("set", "set", "delete", "create", "bigset", "merge", "upsert") ++
        Seq.fill(18)("point_read") ++ Seq.fill(6)("feed_read") ++
        Seq("aggregate", "edge_read"))
    val out = mutable.ArrayBuffer.empty[Stmt]
    kinds.zipWithIndex.foreach { case (kind, i) =>
      val s: Stmt = kind match {
        case "set" => SetV(recent(zipfRank(rng, live.size)), s"s$pass-$i")
        case "delete" => Delete(recent(zipfRank(rng, live.size)))
        case "create" => Create(nextKey, s"c$pass-$i", rng.nextInt(1000).toLong)
        case "bigset" =>
          val lo = (rng.nextDouble() * math.max(1L, nextKey - bigSetWidth)).toLong
          BigSet(lo, lo + bigSetWidth, items.keysIterator.count(k => k >= lo && k < lo + bigSetWidth))
        case "merge" =>
          Merge(if (rng.nextBoolean()) recent(zipfRank(rng, live.size)) else nextKey, s"m$pass-$i")
        case "upsert" =>
          val b = nextBatch; nextBatch += 1
          Upsert(b, (0 until 8).map(_ => (feedKeys - 1 - zipfRank(rng, feedKeys)).toLong)
            .distinct.map(k => (k, s"u$b-$k")))
        case "point_read" =>
          val k = recent(zipfRank(rng, live.size)); PointRead(k, items.get(k))
        case "aggregate" => val (c, s) = aggregate; Aggregate(c, s)
        case "feed_read" =>
          val k = (feedKeys - 1 - zipfRank(rng, feedKeys)).toLong; FeedRead(k, feed.get(k))
        case "edge_read" => val k = rng.nextInt(feedKeys).toLong; EdgeRead(k, follows(k))
      }
      apply(s)
      out += s
      if ((i + 1) % compactEvery == 0) out += Compact
    }
    out.toSeq
  }
}
