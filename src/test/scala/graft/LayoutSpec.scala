package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.functions.HashExpressions
import graft.operators.Layout

/** Z-order layout: the Morton key is correct (vs a bit-by-bit reference),
  * codegen'd, and — the point of the operator — range-partitioning by it
  * clusters BOTH key columns at once, where a single-column sort clusters
  * exactly one. Plus the clustered parquet sink round-trips with bounded
  * files and hive partition dirs.
  */
class LayoutSpec extends AnyFunSuite {
  import SparkTestSession._

  private def lineitem = Tables.load(spark, sf01, "lineitem")

  test("interleave_bits matches a bit-by-bit reference and is injective") {
    def reference(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (12345L, 678L),
      (0xFFFFFFFFL, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (1999L, 99L))
    cases.foreach { case (x, y) =>
      assert(HashExpressions.mortonJava(x, y) == reference(x, y),
        s"morton($x,$y) mismatch")
    }
    // Injective: distinct inputs -> distinct keys over a dense grid.
    val grid = for (x <- 0L until 64L; y <- 0L until 64L)
      yield HashExpressions.mortonJava(x, y)
    assert(grid.distinct.size == grid.size, "morton must be injective")
  }

  test("SQL integer literals: interpreted (constant-fold) == codegen == java") {
    // Integer literals constant-fold through interpreted eval — this is the
    // path that used to ClassCastException before the builder
    // wrapped arguments in Cast(_, LongType).
    val folded = spark.sql("SELECT interleave_bits(3, 5) AS z")
      .collect()(0).getLong(0)
    // Column input from data defeats constant folding → codegen path.
    import spark.implicits._
    val viaCodegen = Seq((3, 5)).toDF("x", "y")
      .selectExpr("interleave_bits(x, y) AS z").collect()(0).getLong(0)
    assert(folded == viaCodegen, "interpreted and codegen eval must agree")
    assert(folded == HashExpressions.mortonJava(3L, 5L))
  }

  test("zorder fails loudly on empty and all-null input") {
    import spark.implicits._
    val empty = Seq.empty[(java.lang.Long, java.lang.Long)].toDF("x", "y")
    val ex1 = intercept[IllegalArgumentException] {
      Layout.zorderByRange(empty, 4, "x", "y").count()
    }
    assert(ex1.getMessage.contains("empty or"), ex1.getMessage)
    val allNull = Seq[(java.lang.Long, java.lang.Long)](
      (null, 1L), (null, 2L)).toDF("x", "y")
    val ex2 = intercept[IllegalArgumentException] {
      Layout.zorderByRange(allNull, 4, "x", "y").count()
    }
    assert(ex2.getMessage.contains("entirely NULL"), ex2.getMessage)
  }

  test("expression stays in whole-stage codegen") {
    val plan = lineitem
      .select(HashExpressions.interleaveBits(col("l_partkey"), col("l_suppkey")))
      .queryExecution.executedPlan.toString
    // Codegen'd stages print with the "*(n)" prefix in the plan string.
    assert(plan.contains("*(1) Project"), s"z-key pass must codegen:\n$plan")
    assert(!plan.contains("ScalaUDF"), "z-key must be a native expression")
  }

  test("z-order clusters BOTH columns; single-column sort only one") {
    val df = lineitem.select(col("l_partkey"), col("l_suppkey"))
    val parts = 16

    val zed = Layout.zorderByRange(df, parts, "l_partkey", "l_suppkey").cache()
    val oneCol = df.repartitionByRange(parts, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey")).cache()
    try {
      val zPart = Layout.spanFraction(zed, "l_partkey")
      val zSupp = Layout.spanFraction(zed, "l_suppkey")
      val sPart = Layout.spanFraction(oneCol, "l_partkey")
      val sSupp = Layout.spanFraction(oneCol, "l_suppkey")
      // Single-col sort: near-perfect on its key, useless on the other.
      assert(sPart < 0.2, s"partkey sort should cluster partkey, span=$sPart")
      assert(sSupp > 0.8, s"partkey sort cannot cluster suppkey, span=$sSupp")
      // Z-order: materially clustered on BOTH keys.
      assert(zPart < 0.5, s"z-order partkey span $zPart not clustered")
      assert(zSupp < 0.5, s"z-order suppkey span $zSupp not clustered")
    } finally { zed.unpersist(); oneCol.unpersist() }
  }

  test("clustered sink: hive dirs, bounded files, exact round-trip") {
    val dir = Files.createTempDirectory("graft_layout").toString
    val src = lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"))
    Layout.writeClustered(src, dir, Seq("l_returnflag"),
      "l_partkey", "l_suppkey", numTasks = 8, maxRecordsPerFile = 20000)

    val flags = src.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).toSet
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == flags.map(f => s"l_returnflag=$f"),
      s"hive dirs $dirs != partitions $flags")

    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    // Exact multiset equality via exceptAll both ways.
    val reordered = back.select(src.columns.map(col): _*)
    assert(reordered.exceptAll(src).isEmpty && src.exceptAll(reordered).isEmpty,
      "round-trip must preserve every row exactly")

    // maxRecordsPerFile honored.
    val counts = spark.read.parquet(dir)
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 20000), s"file over cap: ${counts.max}")
  }

  test("curated sink: exact file-count contract, sorted within files, " +
    "layout identical across input partitionings, empty input reads back") {
    import spark.implicits._
    val rows = (0L until 400L)
      .map(i => (i, s"host${i % 7}", s"v${i * 31 % 97}"))
    val df = rows.toDF("id", "host", "v")

    def leafFiles(root: String): Map[String, Seq[java.io.File]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(root))
        .groupBy(_.getParentFile.getPath.stripPrefix(root))
    }
    def contentHash(fs: Seq[java.io.File]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      fs.sortBy(_.getName).foreach(f =>
        md.update(java.nio.file.Files.readAllBytes(f.toPath)))
      md.digest().map("%02x".format(_)).mkString
    }

    val base = sys.props("java.io.tmpdir") + "/graft_curated_" +
      java.util.UUID.randomUUID()
    val outA = s"$base/a"
    val outB = s"$base/b"
    // Same data, maximally different cluster layouts: partitioning and
    // row order going INTO the sink must not leak into what lands on disk.
    Layout.writeCurated(df.repartition(3), outA, "host", Seq("id"), 2)
    Layout.writeCurated(df.repartition(17).orderBy(col("v")), outB,
      "host", Seq("id"), 2)

    // Exact file-count contract: 7 hosts x 2 buckets, one file per leaf.
    val leavesA = leafFiles(outA)
    assert(leavesA.size == 14, s"leaf dirs: ${leavesA.keys.toSeq.sorted}")
    assert(leavesA.values.forall(_.size == 1),
      "exactly one parquet file per (host, __file) leaf")

    // Layout stability: same leaves, byte-identical file content.
    val leavesB = leafFiles(outB)
    assert(leavesA.keySet == leavesB.keySet)
    leavesA.keys.foreach { leaf =>
      assert(contentHash(leavesA(leaf)) == contentHash(leavesB(leaf)),
        s"leaf $leaf bytes differ across input layouts")
    }

    // Rows inside each file are sorted by the sort key.
    leavesA.values.flatten.foreach { f =>
      val ids = spark.read.parquet(f.getPath)
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"${f.getPath} not sorted by id")
    }

    // Read-back equality (explicit-schema path) and empty-input survival.
    val back = Layout.readCurated(spark, outA, df.schema)
      .select(df.columns.map(col): _*)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    val outE = s"$base/empty"
    Layout.writeCurated(df.filter(lit(false)), outE, "host", Seq("id"), 2)
    assert(Layout.readCurated(spark, outE, df.schema).count() == 0)
  }

  test("sinkRoot: defaults to the user-scoped tmpdir, honors " +
    "spark.graft.curatedSinkRoot for side-effect isolation") {
    val dflt = Layout.sinkRoot(spark)
    assert(dflt.startsWith(System.getProperty("java.io.tmpdir")))
    assert(dflt.contains("graft-curated-"))
    spark.conf.set("spark.graft.curatedSinkRoot", "/tmp/graft-isolated-x")
    try assert(Layout.sinkRoot(spark) == "/tmp/graft-isolated-x")
    finally spark.conf.unset("spark.graft.curatedSinkRoot")
    assert(Layout.sinkRoot(spark) == dflt)
  }

  test("compactDir collapses a many-small-file directory to the sized target") {
    val base = sys.props("java.io.tmpdir") + "/graft_compact_" +
      java.util.UUID.randomUUID()
    val smallDir = s"$base/small"
    val outDir = s"$base/out"
    // 64 tiny files.
    lineitem.limit(20000).repartition(64).write.parquet(smallDir)
    def fileCount(d: String): Int =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(fileCount(smallDir) == 64)
    val n = graft.operators.Layout.compactDir(spark, smallDir, outDir,
      targetFileBytes = 512 * 1024)
    assert(fileCount(outDir) == n, "written files must equal the computed count")
    assert(n < 64, s"compaction produced $n files — no reduction")
    // Same rows, and files are balanced (round-robin): no file more than
    // 2x the mean.
    val src = spark.read.parquet(smallDir)
    val out = spark.read.parquet(outDir)
    assert(out.count() == src.count())
    if (n > 1) {
      val sizes = out.groupBy(input_file_name()).count()
        .collect().map(_.getLong(1))
      val mean = sizes.sum.toDouble / sizes.length
      assert(sizes.forall(_ <= mean * 2),
        s"unbalanced compaction: ${sizes.toSeq} vs mean $mean")
    }
  }
}
