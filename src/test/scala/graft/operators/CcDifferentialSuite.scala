package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Differential pin of the two connected-components executors. Every case
  * runs through [[Dedup.duplicateGroups]] twice — once with the default
  * driver bound (these graphs are all small enough for the driver
  * executor) and once with `spark.graft.cc.driverMaxEdges=0` (the
  * distributed executor) — and both runs must agree on the labels, their
  * id type, `roundsOut`, `changedOut`, and the exception class and message.
  * A run that returns under `requireConvergence = true` has converged by
  * contract, so its labels must also equal a union-find reference
  * (group_id = component minimum); a run that may be truncated must still
  * be sound (every label is a smaller-or-equal id of the same component).
  *
  * The random cases come from ScalaCheck generators driven with fixed
  * seeds, so every run checks the same cases.
  */
class CcDifferentialSuite extends SparkTestBase {

  private case class Case(shapes: Seq[String], edges: Seq[(Long, Long)],
      strategy: String, maxIter: Int, autoRoundBudget: Int = 6,
      requireConvergence: Boolean = false, intIds: Boolean = false,
      starFirst: Boolean = false) {
    override def toString: String =
      s"${if (shapes.isEmpty) "empty" else shapes.mkString("+")} $strategy" +
        s"${if (starFirst) "(star-first)" else ""} maxIter=$maxIter " +
        s"budget=$autoRoundBudget require=$requireConvergence" +
        s"${if (intIds) " int-ids" else ""}"
  }

  /** What one run observed: labels or (exception class, message), plus the
    * hooks as they stood when the call returned or threw.
    */
  private case class Outcome(result: Either[(String, String), (String, Set[(Long, Long)])],
      rounds: Int, changed: Seq[Long])

  private def run(c: Case): Outcome = {
    import spark.implicits._
    val pairs =
      if (c.intIds) c.edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("id_a", "id_b")
      else c.edges.toDF("id_a", "id_b")
    val rounds = new AtomicInteger(-1)
    val changed = mutable.ArrayBuffer.empty[Long]
    val result = try {
      val labels = Dedup.duplicateGroups(pairs, maxIter = c.maxIter,
        requireConvergence = c.requireConvergence, strategy = c.strategy,
        autoRoundBudget = c.autoRoundBudget, roundsOut = Some(rounds),
        changedOut = Some(changed),
        autoStarEdgeThreshold = if (c.starFirst) 0L else Dedup.AutoStarCanonicalEdges)
      Right((labels.schema("group_id").dataType.simpleString,
        labels.collect().map(r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet))
    } catch { case e: Exception => Left((e.getClass.getName, e.getMessage)) }
    Outcome(result, rounds.get(), changed.toSeq)
  }

  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  /** Union-find over the non-self edges; labels every node the chosen route
    * emits (star routes drop ids that appear only in self-pairs).
    */
  private def reference(c: Case): Set[(Long, Long)] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val links = c.edges.filter { case (a, b) => a != b }
    links.foreach { case (a, b) => parent(find(a)) = find(b) }
    val starRoute = c.strategy == "star" || (c.strategy == "auto" && c.starFirst && c.edges.nonEmpty)
    val nodes = (if (starRoute) links else c.edges).flatMap { case (a, b) => Seq(a, b) }.distinct
    nodes.groupBy(find).values.flatMap(ms => ms.map(_ -> ms.min)).toSet
  }

  private def check(c: Case): Unit = {
    val onDriver = run(c)
    val onCluster = distributed(run(c))
    assert(onDriver == onCluster, s"executors diverge on $c")
    val want = reference(c)
    onDriver.result match {
      case Right((_, got)) if c.requireConvergence =>
        assert(got == want, s"converged labels differ from union-find on $c")
      case Right((_, got)) =>
        val comp = want.toMap
        assert(got.map(_._1) == comp.keySet, s"node set differs from union-find on $c")
        assert(got.forall { case (id, g) => g <= id && comp.get(g).contains(comp(id)) },
          s"a partial label crosses components on $c")
      case Left((cls, msg)) =>
        assert(c.requireConvergence && cls == classOf[IllegalStateException].getName &&
          msg.contains("did not converge"), s"unexpected failure on $c: $cls $msg")
    }
  }

  // ---- generated graphs: disjoint shapes, ids shuffled, edges flipped and repeated ----

  private def chain(n: Int) = (0 until n - 1).map(i => (i.toLong, i + 1L))
  private def starShape(n: Int) = (1 until n).map(i => (0L, i.toLong))
  private def clique(n: Int) = for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong)

  private val shape: Gen[(String, Seq[(Long, Long)])] = Gen.oneOf(
    Gen.choose(2, 40).map(n => s"chain($n)" -> chain(n)),
    Gen.choose(2, 20).map(n => s"star($n)" -> starShape(n)),
    Gen.choose(2, 8).map(n => s"clique($n)" -> clique(n)),
    // a random tree: node i hangs off one of the nodes before it
    Gen.choose(2, 30).flatMap(n => Gen.listOfN(n - 1, Gen.choose(0L, Long.MaxValue))
      .map(rs => s"forest($n)" -> rs.zipWithIndex.map { case (r, i) => (r % (i + 1), i + 1L) })),
    Gen.choose(1, 3).map(n => s"self($n)" -> (0 until n).map(i => (i.toLong, i.toLong))),
    Gen.const("empty" -> Seq.empty[(Long, Long)]))

  /** 1-3 shapes on disjoint id ranges; within each, ids are permuted (so the
    * component minimum sits anywhere), some edges flipped and some repeated.
    */
  private val graph: Gen[(Seq[String], Seq[(Long, Long)])] = for {
    k <- Gen.choose(1, 3)
    parts <- Gen.listOfN(k, shape)
    mix <- Gen.long
  } yield {
    val rnd = new scala.util.Random(mix)
    val named = parts.filter(_._2.nonEmpty)
    val edges = named.zipWithIndex.flatMap { case ((_, es), s) =>
      val ids = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      val perm = ids.zip(rnd.shuffle(ids).map(_ + 1000L * (s + 1))).toMap
      es.map { case (a, b) => if (rnd.nextBoolean()) (perm(b), perm(a)) else (perm(a), perm(b)) }
    }
    (named.map(_._1), edges ++ edges.filter(_ => rnd.nextInt(8) == 0))
  }

  private val randomCase: Gen[Case] = for {
    g <- graph
    strategy <- Gen.oneOf("minLabel", "star", "auto")
    maxIter <- Gen.oneOf(1, 2, 3, 20)
    budget <- Gen.oneOf(2, 6)
    require <- Gen.oneOf(false, true)
    intIds <- Gen.frequency(4 -> Gen.const(false), 1 -> Gen.const(true))
    starFirst <- Gen.frequency(4 -> Gen.const(false), 1 -> Gen.const(strategy == "auto"))
  } yield Case(g._1, g._2, strategy, maxIter, budget, require, intIds, starFirst)

  private val fixed = Seq(
    // the stall fires on the last permitted round (maxIter = 2 <= budget):
    // no room is left for a hand-off, so auto is min-label truncated at 2
    Case(Seq("chain(40)"), chain(40), "auto", maxIter = 2),
    Case(Seq("chain(40)"), chain(40), "auto", maxIter = 2, requireConvergence = true),
    // converging mix: two cliques sharing a node plus a separate pair
    Case(Seq("mix"), Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 7L), (7L, 9L), (20L, 21L)),
      "auto", maxIter = 20),
    // truncation: a 40-node chain is wider than 5 min-label hops
    Case(Seq("chain(40)"), chain(40), "minLabel", maxIter = 5),
    // stall → contract-and-star hand-off after 2 rounds
    Case(Seq("chain(120)"), chain(120), "auto", maxIter = 20),
    // ... and a star phase too short to finish: the hooks stand when it throws
    Case(Seq("chain(120)"), chain(120), "auto", maxIter = 3, requireConvergence = true),
    Case(Seq.empty, Seq.empty, "auto", maxIter = 20),
    Case(Seq.empty, Seq.empty, "minLabel", maxIter = 20),
    Case(Seq.empty, Seq.empty, "star", maxIter = 20, requireConvergence = true))

  private val seeded = (0 until 36).map(i =>
    randomCase.pureApply(Gen.Parameters.default, Seed(9100L + i)))

  (fixed ++ seeded).zipWithIndex.foreach { case (c, i) =>
    test(f"case $i%02d: $c") { check(c) }
  }

  test("min-label converges at maxIter equal to the diameter on both executors") {
    // the last permitted round still changes labels, yet leaves them exact:
    // a single pair (diameter 1) at maxIter = 1, a 4-node chain (diameter
    // 3) at maxIter = 3, and a star whose center is not the minimum
    // (diameter 2) at maxIter = 2 under auto, where the stall fires on the
    // last permitted round
    val cases = Seq(
      Case(Seq("pair"), Seq((1L, 2L)), "minLabel", maxIter = 1, requireConvergence = true),
      Case(Seq("chain(4)"), chain(4), "minLabel", maxIter = 3, requireConvergence = true),
      Case(Seq("star(5)"), (1L to 4L).map(i => (5L, i)), "auto", maxIter = 2,
        requireConvergence = true))
    for (c <- cases) {
      val onDriver = run(c)
      assert(onDriver.result == Right(("bigint", reference(c))), s"driver executor on $c")
      assert(distributed(run(c)) == onDriver, s"executors diverge on $c")
    }
    // one round short of the diameter still throws
    val short = run(Case(Seq("chain(4)"), chain(4), "minLabel", maxIter = 2,
      requireConvergence = true))
    assert(short.result.left.exists(_._2.contains("did not converge")), short.toString)
  }
}
