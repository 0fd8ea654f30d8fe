package graft

import org.scalatest.funsuite.AnyFunSuite

class EngineSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS is an integer >= 1, defaulting to the host's processors") {
    assert(EngineSession.cpusSetting(None) === Runtime.getRuntime.availableProcessors)
    assert(EngineSession.cpusSetting(Some("8")) === 8)
    assert(EngineSession.cpusSetting(Some(" 1 ")) === 1)
    for (bad <- Seq("0", "-2", "four", "")) {
      val e = intercept[IllegalArgumentException](EngineSession.cpusSetting(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
