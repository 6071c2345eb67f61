package q10bench

import scala.util.hashing.MurmurHash3

import graft.streaming.DeltaEngine.Evt

/** The stream's change batches: the initial load, an endless cycle of
  * update batches (batch `b` >= 1 carries `seq = b`), and a restore
  * batch after the last update `b` (it carries `seq = b + 1`) that
  * returns the state to the initial load, so that the final view's
  * oracle does not depend on how many updates a run managed. */
final case class Schedule(
    initial: Map[String, Seq[Evt]],
    update: Int => Map[String, Seq[Evt]],
    restore: Int => Map[String, Seq[Evt]])

object Schedule {
  /** Held-back lineitem groups, and how many leaf updates a group stays
    * inserted before it is deleted again. */
  val LeafGroups = 30
  val LeafLife = 10
  /** Groups of the flipped customers and orders. */
  val FlipGroups = 16

  private type Batch = Map[String, Seq[Evt]]

  /** The kind of update batch `b`: odd batches are leaf updates, even
    * batches dimension flips. */
  def kind(b: Int): String = if (b % 2 == 1) "leaf" else "flip"

  /** Built from the compiled query's own changelogs: `inserts` (every
    * base row, tag +1) and `marked` (the rows the seeded conditions
    * select, tag -1). Events are only re-timed, through `seq` and `tag`;
    * payloads are compared and hashed as opaque strings, never parsed.
    *
    * Leaf update `k` (batch `2k-1`) inserts held-back lineitem group
    * `(k-1) mod LeafGroups` and deletes the group inserted `LeafLife`
    * leaf updates earlier. Flip `k` (batch `2k`) deletes one seeded
    * nation, one group of the flipped customers and one of the flipped
    * orders, and re-inserts those flip `k-1` deleted. The two cycles
    * touch disjoint rows. */
  def build(inserts: Batch, marked: Batch, seed: Long): Schedule = {
    val none: Batch = inserts.map { case (rel, _) => rel -> Seq.empty[Evt] }
    def retime(es: Seq[Evt], seq: Int, tag: Int) = es.map(_.copy(seq = seq.toLong, tag = tag))

    val held = groups(marked("lineitem"), LeafGroups, seed)
    def heldGroup(k: Int) = held(Math.floorMod(k - 1, LeafGroups))
    def leaf(k: Int, seq: Int): Batch = none + ("lineitem" ->
      (retime(heldGroup(k), seq, 1) ++
        (if (k > LeafLife) retime(heldGroup(k - LeafLife), seq, -1) else Nil)))
    def leafRestore(last: Int, seq: Int): Batch = none + ("lineitem" ->
      (math.max(1, last - LeafLife + 1) to last).flatMap(k => retime(heldGroup(k), seq, -1)))

    val nations = inserts("nation").sortBy(e => (hash(e, seed), e.row)).map(Seq(_)).toIndexedSeq
    val flipped = Map(
      "nation" -> nations,
      "customer" -> groups(marked("customer"), FlipGroups, seed),
      "orders" -> groups(marked("orders"), FlipGroups, seed))
    def flipGroup(k: Int, seq: Int, tag: Int): Batch =
      if (k < 1) none
      else none ++ flipped.map { case (rel, gs) =>
        rel -> retime(gs(Math.floorMod(k - 1, gs.size)), seq, tag) }
    def flip(k: Int, seq: Int): Batch = {
      val back = flipGroup(k - 1, seq, 1)
      flipGroup(k, seq, -1).map { case (rel, es) => rel -> (es ++ back(rel)) }
    }

    Schedule(
      inserts + ("lineitem" -> minus(inserts("lineitem"), marked("lineitem"))),
      b => if (kind(b) == "leaf") leaf((b + 1) / 2, b) else flip(b / 2, b),
      last => {
        val (l, f) = (leafRestore((last + 1) / 2, last + 1), flipGroup(last / 2, last + 1, 1))
        l.map { case (rel, es) => rel -> (es ++ f(rel)) }
      })
  }

  private def hash(e: Evt, seed: Long): Int =
    MurmurHash3.stringHash(e.key + "\u0000" + e.row, (seed ^ (seed >>> 32)).toInt)

  /** Split events into `n` seeded groups, each in a stable order. */
  private def groups(es: Seq[Evt], n: Int, seed: Long): IndexedSeq[Seq[Evt]] = {
    val by = es.groupBy(e => Math.floorMod(hash(e, seed), n))
    (0 until n).map(g => by.getOrElse(g, Nil).sortBy(e => (e.key, e.row)))
  }

  /** `inserts` minus `marked`, as multisets of (key, row). */
  private def minus(inserts: Seq[Evt], marked: Seq[Evt]): Seq[Evt] = {
    val left = scala.collection.mutable.HashMap[(String, String), Int]()
    marked.foreach(e => left((e.key, e.row)) = left.getOrElse((e.key, e.row), 0) + 1)
    inserts.filter { e =>
      val k = (e.key, e.row)
      left.get(k) match {
        case Some(n) if n > 0 => left(k) = n - 1; false
        case _ => true
      }
    }
  }
}
