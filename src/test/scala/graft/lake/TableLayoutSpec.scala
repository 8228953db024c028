package graft.lake

import graft.{JobCensus, SparkSpec}

/** The layout record and the check that a handle's partition columns
  * match the table's files. */
class TableLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("render then parse round-trips a non-default value of every " +
      "setting") {
    val l = TableLayout(
      partitionCols = Seq("a", "b"),
      statsCols = Seq("n", "m"),
      deletionVectors = true,
      bloomCols = Seq("id"),
      optimizeWrite = true,
      autoCompact = Some((1024L, 3)),
      ckptRetention = (2, 500L),
      rowTracking = true,
      verifyOnRead = true,
      pqCkptEntries = 7L)
    // every field differs from the default, so none round-trips by luck
    assert(l.productIterator.zip(TableLayout().productIterator)
      .forall { case (x, d) => x != d })
    assert(TableLayout.parse(l.render) === l)
    assert(TableLayout.parse(TableLayout().render) === TableLayout())
    // keys the text lacks keep their defaults
    assert(TableLayout.parse("partitionCols=p") ===
      TableLayout(partitionCols = Seq("p")))
  }

  test("construction runs every layout input check") {
    def refused(l: => TableLayout): String =
      intercept[IllegalArgumentException](l).getMessage
    assert(refused(TableLayout(partitionCols = Seq("p", "p")))
      .contains("duplicate partition columns"))
    assert(refused(TableLayout(statsCols = Seq("dv=x")))
      .contains("may not start with 'dv='"))
    assert(refused(TableLayout(bloomCols = Seq("a,b")))
      .contains("manifest token separators"))
    assert(refused(TableLayout(partitionCols = Seq("p"),
      bloomCols = Seq("p"))).contains("bloom columns must be data columns"))
    assert(refused(TableLayout(autoCompact = Some((0L, 4))))
      .startsWith("requirement failed: withAutoCompact:"))
    assert(refused(TableLayout(ckptRetention = (0, 0L)))
      .startsWith("requirement failed: withCheckpointRetention:"))
    assert(refused(TableLayout(pqCkptEntries = 0L))
      .startsWith("requirement failed: withParquetCheckpointThreshold:"))
    // a partition or stats name that render → parse would split, trim
    // or drop
    for (bad <- Seq("a,b", "a\nb", "a\rb", " a", "a ", "\ta", ""))
      for (l <- Seq(() => TableLayout(partitionCols = Seq(bad)),
                    () => TableLayout(statsCols = Seq(bad))))
        assert(refused(l()).contains("catalog separators"), bad)
    assert(refused(MergeTable(spark, tmpDir("lay_c").toString, Some("a,b"))
      .layout).contains("partition column name 'a,b'"))
    assert(refused(MergeTable(spark, tmpDir("lay_s").toString, None,
      Seq("n", "x y ")).layout).contains("stats column name 'x y '"))
    // inner whitespace survives the round trip, so it stays allowed
    val spaced = TableLayout(partitionCols = Seq("a b"), statsCols = Seq("c d"))
    assert(TableLayout.parse(spaced.render) === spaced)
    // the builders construct through the same checks
    val t = MergeTable(spark, tmpDir("lay_b").toString)
    assert(refused(t.withAutoCompact(minFiles = 1).layout)
      .contains("withAutoCompact"))
  }

  test("a handle whose partition columns contradict the table's files " +
      "is refused before any Spark job; a full overwrite re-lays") {
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    val more = Seq((3L, "c")).toDF("id", "p")
    def refused(body: => Any): String = {
      val (e, jobs) = JobCensus.jobsOf(spark)(
        intercept[IllegalArgumentException](body))
      assert(jobs.isEmpty, s"jobs ran before the refusal: $jobs")
      e.getMessage
    }
    // written partitioned, opened unpartitioned or on another column
    val partRoot = tmpDir("lay_part").toString
    MergeTable(spark, partRoot, Some("p")).overwrite(rows)
    val flat = MergeTable(spark, partRoot, None, None)
    val m = refused(flat.append(more))
    assert(m.contains("partitionCols is []") &&
      m.contains("partition directories [p]"), m)
    refused(flat.read())
    val q = MergeTable(spark, partRoot, Some("q"))
    assert(refused(q.read()).contains("partitionCols is [q]"))
    refused(q.append(more))
    // written unpartitioned, opened partitioned
    val flatRoot = tmpDir("lay_flat").toString
    MergeTable(spark, flatRoot, None, None).overwrite(rows)
    val part = MergeTable(spark, flatRoot, Some("p"))
    assert(refused(part.append(more)).contains("partition directories []"))
    refused(part.read())
    refused(part.readVersion(1L))
    // nothing was committed by the refused appends
    assert(MergeTable(spark, partRoot, Some("p")).latestVersion() === 1L)
    assert(MergeTable(spark, flatRoot, None, None).latestVersion() === 1L)
    // a NULL partition value still sits under its p= directory
    val nullRoot = tmpDir("lay_null").toString
    MergeTable(spark, nullRoot, Some("p"))
      .overwrite(Seq((1L, null: String)).toDF("id", "p"))
    refused(MergeTable(spark, nullRoot, None, None).read())
    // a full overwrite keeps no file live, so it may re-lay the table;
    // afterwards the old layout's handle is the one refused
    part.overwrite(rows)
    assert(part.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    refused(MergeTable(spark, flatRoot, None, None).read())
  }

  test("an unpartitioned handle does not convert files under " +
      "partition directories") {
    val root = tmpDir("lay_conv")
    Seq((1L, "a")).toDF("id", "p").write.partitionBy("p")
      .parquet(root.resolve("sub").toString)
    val conv = tmpDir("lay_conv2")
    java.nio.file.Files.move(root.resolve("sub").resolve("p=a"),
      conv.resolve("p=a"))
    val t = MergeTable(spark, conv.toString, None, None)
    assert(intercept[IllegalArgumentException](t.convertInPlace())
      .getMessage.contains("the converted directory holds p=a/"))
    assert(t.latestVersion() === 0L)
    assert(MergeTable(spark, conv.toString, Some("p")).convertInPlace() === 1L)
  }
}
