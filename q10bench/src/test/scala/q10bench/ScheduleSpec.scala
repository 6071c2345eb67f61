package q10bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SqlCompiler

class ScheduleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir = {
    Files.createDirectories(Paths.get("target"))
    val d = Files.createTempDirectory(Paths.get("target"), "schedule-spec").toString
    Data.ensure(spark, d, 0.001)
    d
  }

  override def afterAll(): Unit = spark.stop()

  /** Enough batches for a full cycle of every group and nation. */
  private val Batches = 2 * math.max(Schedule.LeafGroups, 25) + 4

  private def schedule(seed: Long): Schedule = {
    val c = SqlCompiler.compile(spark, dir, Q10.statement)
    val logs = c.sourceChangelogs(spark, dir, Q10.streamMutable(seed), filtered = false)
      .map { case (rel, ds) => rel -> ds.collect().toSeq }
    Schedule.build(logs.map { case (r, es) => r -> es.filter(_.tag > 0) },
      logs.map { case (r, es) => r -> es.filter(_.tag < 0) }, seed)
  }

  private def batches(s: Schedule) =
    s.initial +: (1 to Batches).map(s.update) :+ s.restore(Batches)

  test("the same seed gives identical per-relation, per-batch event counts") {
    def counts(s: Schedule) = batches(s).map(_.map { case (rel, es) => rel -> es.size })
    val a = counts(schedule(7))
    assert(a == counts(schedule(7)))
    assert(a.tail.forall(_.values.sum > 0), "every batch carries events")
  }

  test("every delete lands in a later batch than its insert; restore returns to the initial load") {
    val s = schedule(7)
    val live = mutable.Map[(String, String, String), List[Int]]().withDefaultValue(Nil)
    batches(s).zipWithIndex.foreach { case (batch, b) =>
      val events = batch.toSeq.flatMap { case (rel, es) => es.map(rel -> _) }
      events.foreach { case (_, e) => assert(e.seq == b, s"batch $b carries seq ${e.seq}") }
      events.filter(_._2.tag < 0).foreach { case (rel, e) =>
        val k = (rel, e.key, e.row)
        assert(live(k).exists(_ < b), s"batch $b deletes a $rel row no earlier batch inserted")
        live(k) = live(k).tail
      }
      events.filter(_._2.tag > 0).foreach { case (rel, e) =>
        val k = (rel, e.key, e.row)
        live(k) = live(k) :+ b
      }
    }
    val initial = s.initial.toSeq.flatMap { case (rel, es) => es.map(e => (rel, e.key, e.row)) }
    val end = live.toSeq.flatMap { case (k, copies) => Seq.fill(copies.size)(k) }
    assert(end.sorted == initial.sorted)
  }

  test("two seeds select different rows") {
    val (a, b) = (schedule(7), schedule(8))
    def rows(s: Schedule, rel: String) =
      (1 to Batches).flatMap(s.update(_)(rel)).map(e => (e.key, e.row)).toSet
    Seq("lineitem", "customer", "orders", "nation").foreach { rel =>
      assert(rows(a, rel).nonEmpty, s"seed 7 changes no $rel rows")
    }
    assert(a.initial("lineitem").map(_.row).toSet != b.initial("lineitem").map(_.row).toSet)
    Seq("lineitem", "customer", "orders").foreach { rel =>
      assert(rows(a, rel) != rows(b, rel), s"seeds 7 and 8 change the same $rel rows")
    }
  }
}
