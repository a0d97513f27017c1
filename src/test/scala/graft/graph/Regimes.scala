package graft.graph

import org.scalatest.Assertions._

/** Runs a graph computation under each small-regime bound and requires
  * equal results: the default bound (the small regime), 1 (the bounded
  * fetch runs and overflows on any input of two or more rows) and 0 (no
  * fetch; the inline and distributed regimes). `run` must return
  * collected, order-free values.
  */
object Regimes {
  def agree[A](run: => A): A = {
    val small = run
    Seq(1, 0).foreach { bound =>
      val other = GraphOps.withLocalEdgeLimit(bound)(run)
      assert(other == small, s"bound $bound disagrees with the small regime")
    }
    small
  }
}
