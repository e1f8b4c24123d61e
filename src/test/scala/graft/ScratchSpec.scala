package graft

import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event

/** Suites own their scratch: a spec run leaves no `graft-*` dir behind,
  * neither the dirs the suite made through [[SparkSpec.scratchDir]] nor
  * the staging dirs the engine made for it.
  */
class ScratchSpec extends SparkSpec {
  test("one spec run leaves no new graft-* dir") {
    val before = SparkSpec.graftDirs()
    val silent = new Reporter { def apply(e: Event): Unit = () }
    // builds several indexes and stages multi-chunk query batches
    val status = new RetrieverSpec().run(None, Args(silent))
    assert(status.succeeds(), "the nested RetrieverSpec run failed")
    val left = SparkSpec.graftDirs() -- before
    assert(left.isEmpty, s"scratch dirs left behind: $left")
  }
}
