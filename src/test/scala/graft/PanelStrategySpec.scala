package graft

import org.scalatest.funsuite.AnyFunSuite

/** p150's size-derived probe-panel strategy (r19): at fixture scale the
  * panel rides a single coalesced partition (cheapest correct shape for
  * a KB panel); at corpus scale it is LANDED to per-invocation parquet
  * so the planner sees real stats and no partition grows with N. Both
  * branches must compute identical rows — and each must carry its
  * declared physical shape.
  */
class PanelStrategySpec extends AnyFunSuite {
  import SparkTestSession._

  private def run(land: Boolean) = {
    spark.conf.set("spark.graft.p150.land", land.toString)
    try {
      val df = SparkEntry.queries("p150_hard_negatives")(spark, sf01)
      (df.queryExecution.executedPlan.toString,
        df.inputFiles.exists(_.contains("/panel/")),
        df.collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.unset("spark.graft.p150.land")
  }

  test("fixture branch (land=false): coalesced panel, no landed scan; " +
    "scale branch (land=true): panel read from parquet with real stats; " +
    "identical results") {
    val (fixturePlan, fixtureLanded, fixtureRows) = run(land = false)
    assert(fixturePlan.contains("Coalesce 1"),
      s"fixture branch must coalesce the panel:\n$fixturePlan")
    assert(!fixtureLanded, "fixture branch must not read a landed panel")
    val (scalePlan, scaleLanded, scaleRows) = run(land = true)
    // The landed panel is a parquet scan of the per-invocation
    // `<sink>/<uuid>/panel` directory.
    assert(scaleLanded, s"scale branch must read the landed panel:\n$scalePlan")
    assert(!scalePlan.contains("Coalesce 1"),
      s"scale branch must not carry a single-partition panel:\n$scalePlan")
    assert(fixtureRows == scaleRows,
      "panel strategy changed the query's rows")
  }

  test("a malformed spark.graft.p150.land falls back to the size-derived " +
    "branch, not the single-partition one") {
    import graft.engine.Tables
    // Shrink the split size until the fixture scan counts as wide, so the
    // size-derived default is the landed (scale) branch.
    val bytes = Tables.tableBytes(spark, sf01, "documents")
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val split0 = spark.conf.get(splitKey)
    spark.conf.set(splitKey,
      math.max(1L, bytes / spark.sparkContext.defaultParallelism).toString)
    spark.conf.set("spark.graft.p150.land", "yes")
    try {
      assert(!Tables.isNarrow(spark, bytes))
      val df = SparkEntry.queries("p150_hard_negatives")(spark, sf01)
      assert(df.inputFiles.exists(_.contains("/panel/")),
        "malformed value must fall back to the landed scale branch")
    } finally {
      spark.conf.unset("spark.graft.p150.land")
      spark.conf.set(splitKey, split0)
    }
  }

  test("isNarrow: tiny scans are narrow; a failed stat (Long.MaxValue) is not") {
    import graft.engine.Tables
    assert(Tables.isNarrow(spark, 1L))
    assert(!Tables.isNarrow(spark, Long.MaxValue))
    assert(!Tables.isNarrow(spark, Tables.tableBytes(spark, sf01, "no_such_table")))
  }
}
