package graft

/** The one session builder: its core-count input and the conf every
  * caller shares.
  */
class GraftSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: a positive integer or unset; anything else names the variable") {
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) === 6)
    assert(GraftSession.cpus(Map.empty[String, String]) ===
      Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("abc", "", "0", "-2", "4.5", "8 cores")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the test session carries the shared GraftSession conf for 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.files.maxPartitionBytes") ===
      sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8388608"))
  }
}
