package graft

class GraftConfSpec extends SparkSpec {
  import spark.implicits._

  test("long spark.graft.* confs: default, set value, and a malformed value naming its key") {
    val key = "spark.graft.cc.edgesPerTask"
    assert(GraftConf.long(spark, key, 65536L) === 65536L)
    try {
      spark.conf.set(key, "1000")
      assert(GraftConf.long(spark, key, 65536L) === 1000L)
      spark.conf.set(key, "64k")
      val e = intercept[IllegalArgumentException](GraftConf.long(spark, key, 65536L))
      assert(e.getMessage === s"$key must be a long, got '64k'")
      // The operators read through it: no bare NumberFormatException.
      val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      val site = intercept[IllegalArgumentException](operators.Dedup.connectedComponents(pairs))
      assert(site.getMessage.contains(key))
    } finally spark.conf.unset(key)
  }
}
