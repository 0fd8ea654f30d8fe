package graft.tools

/** Stage the ScaleStress ×N fixture blowup and exit — lets the sf1
  * oracle sweep (tools/sf1_oracle.py) run `graft.Verify` against the
  * blowup dir without paying ScaleStress's measurement loop. Prints
  * the staged path on stdout (`STAGED <dir>`).
  */
object StageBlowup {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val n = if (args.length > 1) args(1).toInt else 10
    val spark = graft.EngineSession.local("stage-blowup")
    val big = graft.ScaleStress.stageBlowup(spark, srcDir, n)
    println(s"STAGED $big")
    spark.stop()
  }
}
