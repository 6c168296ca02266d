package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.Buffer

/** The connected-components control loop behind [[Dedup.duplicateGroups]]
  * and [[Dedup.duplicateGroupsStar]], written once for both executors — the
  * driver one (adjacency arrays, in-memory edge sets) and the distributed
  * one (checkpointed frames, one Spark action per round). It owns every
  * policy decision: the min-label round budget, the stall detector, the
  * min-label → star hand-off, the star phase's round bound, the
  * converge-or-throw contract and the `roundsOut`/`changedOut` hooks. It
  * touches no Spark API; an executor only runs rounds and emits labels, so
  * both executors return the same labels, hook values and exceptions.
  */
private[operators] object CcControl {

  /** Star-phase work of one executor (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC 2014).
    */
  trait StarRounds[Out] {
    /** One large-star + small-star round over the canonical (u > v) edge
      * set; true iff its output is a depth-1 star forest, the fixpoint.
      */
    def round(): Boolean
    /** (id, group_id): each child to its parent, each parent to itself. */
    def emit(): Out
  }

  /** Min-label-phase work of one executor. */
  trait LabelRounds[Out] {
    /** One synchronous min-label round; returns how many labels dropped. */
    def round(): Long
    /** True iff the current labels are a fixpoint: every edge joins two
      * equal labels, so a further round would drop none.
      */
    def settled(): Boolean
    /** The graph contracted through the current labels, left for star
      * rounds to finish.
      */
    def contract(): StarRounds[Out]
    /** (id, group_id) from the current labels — each label replaced by its
      * star label(s) once [[contract]] ran; labels whose node has no
      * surviving contracted edge stay as they are.
      */
    def emit(): Out
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Min-label propagation. Under `auto` the phase runs at most
    * min(autoRoundBudget, maxIter) rounds and ends early once the decay
    * stalls; if the labels have not converged and fewer than `maxIter`
    * rounds ran, the graph is contracted through the partial labels and
    * star rounds (up to `maxIter` more) finish it. Otherwise the run is
    * min-label truncated at `maxIter`.
    */
  def minLabel[Out](ex: LabelRounds[Out], auto: Boolean, maxIter: Int,
      autoRoundBudget: Int, requireConvergence: Boolean,
      roundsOut: Option[AtomicInteger], changedOut: Option[Buffer[Long]]): Out = {
    val budget = if (auto) math.min(autoRoundBudget, maxIter) else maxIter
    var rounds = 0
    var converged = false
    var stalled = false
    var prevChanged = Long.MaxValue
    while (!converged && !stalled && rounds < budget) {
      val changed = ex.round()
      changedOut.foreach(_ += changed)
      converged = changed == 0
      // Clique-shaped graphs collapse geometrically — each round's changed
      // count a fraction of the last — while diameter-shaped graphs move
      // labels one hop per round, so the count flattens. Once the decay
      // stalls (changed not below half the previous round's, after two
      // rounds of trend) every further min-label round buys one hop: hand
      // off now instead of burning the rest of the budget.
      stalled = auto && rounds >= 1 && changed * 2 > prevChanged
      prevChanged = changed
      rounds += 1
    }
    // a stall ends the phase unconverged, so this one guard covers both the
    // stall and the exhausted budget; at maxIter rounds there is no room left
    if (!converged && auto && rounds < maxIter) {
      val (starRounds, starConverged) = starPhase(ex.contract(), maxIter)
      settle(rounds + starRounds, starConverged, starNotConverged(maxIter),
        requireConvergence, roundsOut)
    } else {
      // a zero-change round sees convergence one round after the labels
      // got there: a component of diameter maxIter is exact after its last
      // permitted round, which still changed labels. One fixpoint check —
      // paid only when the rounds ran out — tells the two apart.
      if (!converged && rounds > 0) converged = ex.settled()
      settle(rounds, converged, minLabelNotConverged(maxIter), requireConvergence, roundsOut)
    }
    ex.emit()
  }

  /** Star rounds alone, up to `maxIter`. */
  def star[Out](ex: StarRounds[Out], maxIter: Int, requireConvergence: Boolean,
      roundsOut: Option[AtomicInteger]): Out = {
    val (rounds, converged) = starPhase(ex, maxIter)
    settle(rounds, converged, starNotConverged(maxIter), requireConvergence, roundsOut)
    ex.emit()
  }

  /** The fixpoint test runs on each round's own output, so even a
    * star-forest input pays one (idempotent) round before it is detected.
    */
  private def starPhase(ex: StarRounds[_], maxIter: Int): (Int, Boolean) = {
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      converged = ex.round()
      rounds += 1
    }
    (rounds, converged)
  }

  private def minLabelNotConverged(maxIter: Int): String =
    s"duplicateGroups did not converge within maxIter=$maxIter rounds; " +
      "labels are partially merged (a component wider than maxIter hops exists — " +
      "raise maxIter to at least the largest component's diameter)"

  private def starNotConverged(maxIter: Int): String =
    s"duplicateGroupsStar did not converge within maxIter=$maxIter rounds"

  private def settle(rounds: Int, converged: Boolean, notConverged: String,
      requireConvergence: Boolean, roundsOut: Option[AtomicInteger]): Unit = {
    roundsOut.foreach(_.set(rounds))
    if (!converged) {
      if (requireConvergence) throw new IllegalStateException(notConverged)
      log.warn(notConverged)
    }
  }
}
