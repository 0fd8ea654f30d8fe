package graft

class ScaleStressSpec extends SparkSpec {

  test("a blowup factor below 2 throws before anything is staged") {
    val tag = sf.replaceAll("[^A-Za-z0-9.]", "_")
    for (n <- Seq(1, 0)) {
      val dest = new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft_scale/${tag}_x${n}_v6")
      val e = intercept[IllegalArgumentException](ScaleStress.stageBlowup(spark, sf, n))
      assert(e.getMessage.contains("2..26"), e.getMessage)
      assert(!dest.exists(), s"$dest was staged")
    }
  }

  test("SPARK_GRAFT_SCALE is parsed once and must be an integer in 2..26") {
    assert(ScaleStress.scaleSetting(None) === 10)
    assert(ScaleStress.scaleSetting(Some(" 4 ")) === 4)
    for (bad <- Seq("ten", "1", "0", "27", "")) {
      val e = intercept[IllegalArgumentException](ScaleStress.scaleSetting(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SCALE"), e.getMessage)
    }
  }
}
