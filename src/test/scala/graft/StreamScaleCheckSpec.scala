package graft

import org.scalatest.funsuite.AnyFunSuite

class StreamScaleCheckSpec extends AnyFunSuite {

  test("mode names: none runs the default set, an unknown one is rejected") {
    assert(StreamScaleCheck.selectModes(Nil) == StreamScaleCheck.DefaultModes.toSet)
    assert(StreamScaleCheck.selectModes(Seq("extract", "curation_restart")) ==
      Set("extract", "curation_restart"))
    val e = intercept[IllegalArgumentException](
      StreamScaleCheck.selectModes(Seq("extract", "extrct")))
    assert(e.getMessage.contains("extrct"))
    StreamScaleCheck.Modes.foreach(m => assert(e.getMessage.contains(m)))
  }
}
