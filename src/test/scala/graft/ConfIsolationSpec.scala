package graft

/** A query's result depends on the query alone: running one leaves the
  * session's conf exactly as it found it — the mm_* decoders follow the
  * bytes, and the dynamic-overwrite writers carry the mode as a write
  * option.
  */
class ConfIsolationSpec extends SparkSpec {

  test("mm_*, ev_daily_mv and sp_layer_upsert leave the session conf untouched") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("mm_")).toSeq.sorted ++
      Seq("ev_daily_mv", "sp_layer_upsert")
    assert(names.size == 16)
    val dir = "/root/testdata/sf0.001"
    val before = spark.conf.getAll
    names.foreach { name =>
      SparkEntry.queries(name)(spark, dir).collect()
      assert(spark.conf.getAll == before, s"$name changed the session conf")
    }
  }
}
