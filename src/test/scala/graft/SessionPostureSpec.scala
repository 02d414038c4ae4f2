package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench and graft.Verify both run on GraftSession.local. This pins
  * the session settings that decide Bench's plans and exchanges, so a
  * change to the shared factory cannot move the benchmarked posture
  * unnoticed. */
class SessionPostureSpec extends AnyFunSuite {

  test("GraftSession.local applies Bench's spark.sql.*, spark.shuffle.* and spark.local.dir settings") {
    val cpus = 4
    val shm = java.nio.file.Paths.get("/dev/shm")
    val localDir =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        Map("spark.local.dir" -> shm.resolve("graft-shuffle").toString)
      else Map.empty[String, String]
    val expected = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.shuffledHashJoinFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "4m",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "536870912",
      "spark.sql.codegen.cache.maxEntries" -> "500",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false") ++ localDir
    assume(!sys.env.contains("SPARK_GRAFT_CONF"),
      "SPARK_GRAFT_CONF overrides the posture on purpose")
    val applied = GraftSession.localConf(cpus).toMap.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
        k == "spark.local.dir"
    }
    assert(applied == expected)
  }

  test("SPARK_GRAFT_CONF parsing skips empty entries and names a malformed one") {
    assert(GraftSession.parseConfList("").isEmpty)
    assert(GraftSession.parseConfList(",a=1,, b=x=y ,") == Seq("a" -> "1", "b" -> "x=y"))
    val e = intercept[IllegalArgumentException](
      GraftSession.parseConfList("a=1,spark.graft.eagerAgg"))
    assert(e.getMessage.contains("'spark.graft.eagerAgg'"), e.getMessage)
    intercept[IllegalArgumentException](GraftSession.parseConfList("=1"))
  }
}
