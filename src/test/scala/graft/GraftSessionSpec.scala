package graft

/** [[GraftSession.scoped]]: the one way to run work under conf that
  * differs from the caller's.
  */
class GraftSessionSpec extends SparkSpec {

  test("scoped: one reused child per caller and overrides, mirrors the caller, never writes it") {
    val key = "graft.test.scopedCaller"
    val over = Map("graft.test.scopedOverride" -> "8")
    val before = spark.conf.getAll
    spark.conf.set(key, "a")
    try {
      val child = GraftSession.scoped(spark, over)
      assert(!(child eq spark))
      assert(child.sparkContext eq spark.sparkContext)
      assert(child.conf.getOption(key).contains("a"))
      assert(child.conf.getOption("graft.test.scopedOverride").contains("8"))
      // the caller never holds an override
      assert(spark.conf.getAll == before + (key -> "a"))
      // same caller and overrides: the same child (a fresh one per call
      // would leak a streaming listener per stream it starts)
      assert(GraftSession.scoped(spark, over) eq child)
      // other overrides: another child
      assert(!(GraftSession.scoped(spark, Map("graft.test.scopedOverride" -> "9")) eq child))
      // a caller key set, changed and unset later is mirrored by the next call
      spark.conf.set(key, "b")
      assert(GraftSession.scoped(spark, over).conf.getOption(key).contains("b"))
      spark.conf.unset(key)
      assert(!GraftSession.scoped(spark, over).conf.getAll.contains(key))
      // a key the caller sets that an override also names: the override wins
      spark.conf.set("graft.test.scopedOverride", "1")
      assert(GraftSession.scoped(spark, over).conf.get("graft.test.scopedOverride") == "8")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("graft.test.scopedOverride")
    }
    assert(spark.conf.getAll == before)
  }
}
